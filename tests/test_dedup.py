"""Dedup operator tests with planted duplicates (SURVEY §7 M3).

The oracle gate covers exact/minhash/jaccard equivalence with DuckDB;
these tests pin semantic behavior — planted near-dups must be found,
unrelated docs must not collide — and the worker kernels' edge cases.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from mock_map_reduce_spark.operators import dedup as dd

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)
NEAR_DUP = BASE.replace("warm", "cold")  # one word changed
UNRELATED = (
    "stock markets rallied sharply today as investors cheered strong "
    "earnings reports from major technology companies around the world"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(doc_id=1, text=BASE),
        Row(doc_id=2, text=BASE),  # exact duplicate of 1
        Row(doc_id=3, text=NEAR_DUP),  # near duplicate of 1
        Row(doc_id=4, text=UNRELATED),
        Row(doc_id=5, text="tiny"),  # shorter than the shingle width
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup_groups(docs):
    groups = {r.keep_id: r.n_copies for r in dd.exact_dedup_groups(docs).collect()}
    assert groups == {1: 2, 3: 1, 4: 1, 5: 1}


def test_exact_dedup_keeps_min_id(docs):
    kept = {r.doc_id for r in dd.exact_dedup(docs).collect()}
    assert kept == {1, 3, 4, 5}


def test_shingles_short_doc_empty(docs):
    g = dd.shingles(docs, n=3)
    assert g.filter("doc_id = 5").count() == 0  # 1 token < n -> no grams


# Inputs for the kernel parity tests: grams repeated within a doc and
# across docs, mixed case with punctuation and digits, non-ASCII
# letters, docs shorter than the shingle width, and a null text.
KERNEL_TEXTS = [
    "the cat sat on the mat and the cat sat on the mat again",
    "The CAT sat, on the MAT!! 42 times -- the cat SAT on 7 mats",
    "Café naïve résumé über Straße: the cat sat on the mat",
    "İstanbul ÉCOLE à la carte, ÜBER alles; the cat",
    "two words",
    "",
    None,
    "a b c",
    "x y z x y z x y z x y z",
] + [
    f"doc {i} says the cat sat near {'abcdefgh'[i % 8]} mats and {'ijklmnop'[i % 5]} hats"
    for i in range(15)
]


def _per_gram_signature(text: str | None, num_hashes: int, n: int = 3):
    """The per-gram formula the md5 MinHash kernel must reproduce: hash
    k is hex chars [8*(k%4), 8*(k%4)+8) of md5("{k//4}|" + gram), and
    the signature is its minimum taken as a string."""
    import hashlib
    import re

    toks = [t for t in re.split(dd._TOKEN_RE, (text or "").lower()) if t]
    grams = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    if not grams:
        return None
    return tuple(
        min(
            hashlib.md5(f"{k // 4}|{g}".encode()).hexdigest()[8 * (k % 4) : 8 * (k % 4) + 8]
            for g in grams
        )
        for k in range(num_hashes)
    )


def _mapinarrow_kernel(monkeypatch, df, build):
    """Run ``build(df)`` and return the function it handed to mapInArrow,
    so a test can feed it Arrow batches in-process and see its output
    batches (Spark re-batches them)."""
    DataFrame = type(df)
    seen = []
    real = DataFrame.mapInArrow

    def capture(self, fn, schema, *args, **kwargs):
        seen.append(fn)
        return real(self, fn, schema, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(DataFrame, "mapInArrow", capture)
        build(df)
    (fn,) = seen
    return fn


def test_minhash_kernel_matches_per_gram_formula(spark, monkeypatch):
    rows = [Row(doc_id=i, text=t) for i, t in enumerate(KERNEL_TEXTS)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(dd, "_GRAMS_PER_CHUNK", 7)  # read at build time
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "3")  # several Arrow batches per partition
    try:
        for k in (16, 10):
            got = {r[0]: tuple(r[1:]) for r in dd.minhash_signatures(df, num_hashes=k).collect()}
            want = {i: _per_gram_signature(t, k) for i, t in enumerate(KERNEL_TEXTS)}
            assert got == {i: s for i, s in want.items() if s is not None}
        # every batch without a qualifying doc: typed, empty result
        short = spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in enumerate(["a b", None, "", "one", "x y"])],
            "doc_id int, text string",
        )
        sig = dd.minhash_signatures(short, num_hashes=10)
        assert sig.schema.simpleString() == (
            "struct<doc_id:int," + ",".join(f"h{i}:string" for i in range(10)) + ">"
        )
        assert sig.collect() == []
    finally:
        spark.conf.set(conf, old)


def test_minhash_kernel_splits_chunks_at_doc_boundaries(spark, monkeypatch):
    import pyarrow as pa

    df = spark.createDataFrame([Row(doc_id=0, text="a b c")])
    batch = pa.RecordBatch.from_pydict(
        {"doc_id": list(range(len(KERNEL_TEXTS))), "text": KERNEL_TEXTS},
        schema=pa.schema([("doc_id", pa.int64()), ("text", pa.string())]),
    )
    want = {i: _per_gram_signature(t, 10) for i, t in enumerate(KERNEL_TEXTS)}
    for chunk, cut in ((7, True), (1 << 18, False)):
        monkeypatch.setattr(dd, "_GRAMS_PER_CHUNK", chunk)
        kernel = _mapinarrow_kernel(monkeypatch, df, lambda d: dd.minhash_signatures(d, num_hashes=10))
        out = list(kernel([batch]))
        assert (len(out) > 2) if cut else (len(out) == 1)  # chunks cut inside one batch
        got = {r["doc_id"]: tuple(r[f"h{k}"] for k in range(10)) for b in out for r in b.to_pylist()}
        assert got == {i: s for i, s in want.items() if s is not None}


def test_shingles_chunk_a_long_document(spark, monkeypatch):
    import pyarrow as pa

    words = [a + b for a in "abcdefgh" for b in "abcdefgh"]  # 64 distinct tokens
    text = " ".join(words + words[:10])  # the last 8 grams repeat earlier ones
    df = spark.createDataFrame([Row(doc_id=1, text=text)])
    whole = [tuple(r) for r in dd.shingles(df, n=3).collect()]
    assert len(whole) == 64  # 72 grams, 8 of them repeats

    monkeypatch.setattr(dd, "_GRAMS_PER_CHUNK", 5)
    assert [tuple(r) for r in dd.shingles(df, n=3).collect()] == whole
    kernel = _mapinarrow_kernel(monkeypatch, df, lambda d: dd.shingles(d, n=3))
    out = list(kernel([pa.RecordBatch.from_pydict({"doc_id": [1], "text": [text]})]))
    assert [b.num_rows for b in out] == [5] * 12 + [4]
    assert [(r["doc_id"], r["gram"]) for b in out for r in b.to_pylist()] == whole


def test_lsh_finds_planted_near_dups(docs):
    # 8 bands x 2 rows: detection probability ~0.999 at jaccard 0.75
    # (the one-word-changed near-dup); 4x4 default would miss ~22%.
    pairs = {(r.id_a, r.id_b) for r in dd.lsh_candidate_pairs(docs, bands=8).collect()}
    assert (1, 2) in pairs  # exact dup always collides
    assert (1, 3) in pairs and (2, 3) in pairs  # near dup collides
    assert not any(4 in p or 5 in p for p in pairs)  # unrelated/short never


def test_lsh_precomputed_signatures_agree_on_planted(docs):
    sig = dd.minhash_signatures(docs)
    pairs = {(r.id_a, r.id_b) for r in dd.lsh_candidate_pairs(docs, bands=8, signatures=sig).collect()}
    assert {(1, 2), (1, 3), (2, 3)} <= pairs
    assert not any(4 in p for p in pairs)


def test_lsh_bucket_size_cap(docs):
    # cap of 1 drops every bucket with >=2 docs -> no pairs at all
    pairs = dd.lsh_candidate_pairs(docs, max_bucket_size=1).collect()
    assert pairs == []


def test_lsh_group_and_join_strategies_agree(docs):
    # the collect_list pair generator and the bucket self-join are two
    # physical plans for one logical result — must match exactly,
    # capped and uncapped
    for cap in (None, 2):
        g = {(r.id_a, r.id_b) for r in dd.lsh_candidate_pairs(docs, bands=8, max_bucket_size=cap, via="group").collect()}
        j = {(r.id_a, r.id_b) for r in dd.lsh_candidate_pairs(docs, bands=8, max_bucket_size=cap, via="join").collect()}
        assert g == j


def test_ngram_jaccard_values(docs):
    got = {(r.id_a, r.id_b): r.jaccard for r in dd.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert got[(1, 2)] == 1.0  # identical shingle sets
    assert 0.5 < got[(1, 3)] < 1.0  # one changed word
    assert (1, 4) not in got


def test_simhash_near_dup_close_unrelated_far(docs):
    sh = {r.doc_id: r.simhash for r in dd.simhash(docs).collect()}

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert sh[1] == sh[2]  # identical text -> identical digest
    assert hamming(sh[1], sh[3]) < hamming(sh[1], sh[4])  # near-dup closer


def test_simhash_candidates_contain_planted(docs):
    pairs = {(r.id_a, r.id_b) for r in dd.simhash_candidate_pairs(docs).collect()}
    assert (1, 2) in pairs and (1, 3) in pairs


def test_connected_components_clusters(spark, docs):
    edges = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=6, id_b=7)]
    )
    ids = spark.createDataFrame([Row(doc_id=i) for i in [1, 2, 3, 4, 6, 7]])
    comp = {r.doc_id: r.component for r in dd.connected_components(edges, ids).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 4, 6: 6, 7: 6}


def test_lsh_not_degenerate_on_real_corpus(spark, sf_dir):
    """Guard against bucket degeneration (e.g. empty-string hash chunks
    bucketing every doc together): candidates on the real corpus must
    be a sparse subset of all pairs and every signature chunk must be
    a full-width hex string."""
    from pyspark.sql import functions as F

    from mock_map_reduce_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    pairs = dd.lsh_candidate_pairs(docs).count()
    assert pairs < 0.01 * n * (n - 1) / 2  # sparse, not all-pairs

    sig = dd.minhash_signatures(docs)
    bad = sig.filter(
        " OR ".join(f"(h{i} IS NULL OR length(h{i}) <> 8)" for i in range(16))
    ).count()
    assert bad == 0


def test_ngram_jaccard_stop_shingle_guard(spark):
    """max_doc_freq drops ubiquitous shingles from both intersection and
    sizes; pairs equal only via stop shingles disappear."""
    boiler = "copyright notice all rights reserved by the site"
    rows = [
        Row(doc_id=1, text=f"alpha beta gamma delta {boiler}"),
        Row(doc_id=2, text=f"epsilon zeta eta theta {boiler}"),
        Row(doc_id=3, text=f"alpha beta gamma delta unique tail words here"),
    ]
    docs = spark.createDataFrame(rows)
    # without guard: 1-2 pair exists purely through shared boilerplate
    plain = {(r.id_a, r.id_b) for r in dd.ngram_jaccard_pairs(docs, threshold=0.2).collect()}
    assert (1, 2) in plain
    # with guard (boilerplate grams appear in 2 docs -> capped at 1):
    guarded = {(r.id_a, r.id_b): r.jaccard for r in dd.ngram_jaccard_pairs(docs, threshold=0.2, max_doc_freq=1).collect()}
    assert (1, 2) not in guarded  # boilerplate-only overlap gone


def test_benchmark_contamination_planted(spark):
    bench = spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta gamma delta epsilon zeta")]
    )
    corpus = spark.createDataFrame(
        [
            # shares the 4-gram "beta gamma delta epsilon"
            Row(doc_id=10, text="xx beta gamma delta epsilon yy"),
            # no shared 4-gram
            Row(doc_id=11, text="one two three four five six seven"),
        ]
    )
    out = {r.doc_id: r for r in dd.benchmark_contamination(corpus, bench, n=4).collect()}
    assert set(out) == {10}
    r = out[10]
    assert r.n_shared_grams == 1 and r.n_grams == 3
    assert abs(r.overlap_ratio - 1 / 3) < 1e-12


def test_simhash_md5_path_matches_planted_behavior(spark):
    rows = [
        Row(doc_id=1, text=BASE),
        Row(doc_id=2, text=BASE),
        Row(doc_id=4, text=UNRELATED),
    ]
    df = spark.createDataFrame(rows)
    sh = {r.doc_id: r.simhash for r in dd.simhash(df).collect()}
    assert sh[1] == sh[2]          # identical text -> identical digest
    assert sh[1] != sh[4]          # unrelated text -> different digest
    pairs = {
        (r.id_a, r.id_b)
        for r in dd.simhash_candidate_pairs(df).collect()
    }
    assert (1, 2) in pairs


def test_incremental_candidates_cross_set_only(docs):
    # batch = odd ids {1, 3, 5}, index = even ids {2, 4}
    batch = docs.filter("doc_id % 2 = 1")
    index = docs.filter("doc_id % 2 = 0")
    # 8 bands x 2 rows, same as test_lsh_finds_planted_near_dups:
    # detection ~0.999 at the near-dup's jaccard 0.75
    pairs = {
        (r.id_new, r.id_old)
        for r in dd.incremental_lsh_candidates(batch, index, bands=8).collect()
    }
    # planted: 1 and 3 are (near-)dups of 2; 2 itself is in the index
    assert (1, 2) in pairs and (3, 2) in pairs
    # no index-side id ever appears as id_new, no batch-side as id_old
    assert all(n % 2 == 1 and o % 2 == 0 for n, o in pairs)
    # unrelated doc 4 collides with nothing
    assert not any(o == 4 for _, o in pairs)


def test_ngram_group_and_join_formulations_agree(docs):
    for cap in (None, 64):
        g = {(r.id_a, r.id_b, round(r.jaccard, 9))
             for r in dd.ngram_jaccard_pairs(docs, 3, 0.1, max_doc_freq=cap, via="group").collect()}
        j = {(r.id_a, r.id_b, round(r.jaccard, 9))
             for r in dd.ngram_jaccard_pairs(docs, 3, 0.1, max_doc_freq=cap, via="join").collect()}
        assert g == j and g  # identical, and non-empty on the planted dups


def test_survivors_by_quality_picks_best_member(spark):
    """Planted 3-doc near-dup cluster: the survivor must be the
    highest-quality member, not the smallest id."""
    from pyspark.sql import Row

    from mock_map_reduce_spark.operators import dedup as dd
    from mock_map_reduce_spark.operators import text as tx
    from pyspark.sql import functions as F

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=base + " xxxxxxx yyyyyyy zzzzzzz"),  # junk tail
            Row(doc_id=2, text=base),  # clean: highest quality
            Row(doc_id=3, text=base + " qqqq"),
            Row(doc_id=9, text="completely unrelated content about spark engines"),
        ]
    )
    edges = dd.ngram_jaccard_pairs(docs, 3, 0.5).select("id_a", "id_b")
    comp = dd.connected_components(edges, docs.select("doc_id"))
    quality = tx.quality_score(docs).select("doc_id", "quality_score")
    joined = comp.join(quality, "doc_id")
    agg = joined.groupBy("component").agg(
        F.count("*").alias("cluster_size"),
        F.max(
            F.struct(
                F.col("quality_score"),
                (-F.col("doc_id")).alias("__nid"),
                F.col("doc_id").alias("doc_id"),
            )
        ).alias("best"),
    )
    out = {r["best"]["doc_id"]: r["cluster_size"] for r in agg.collect()}
    assert out[9] == 1  # singleton survives as itself
    cluster_keep = [k for k, v in out.items() if v == 3]
    assert cluster_keep == [2]  # quality argmax, not min-id


def test_ngram_containment_catches_embedded_subset(spark):
    """A short doc fully embedded in a long one: containment = 1.0
    while jaccard stays below any useful threshold."""
    short = "the quick brown fox jumps over the lazy dog"
    long = short + " " + UNRELATED + " " + UNRELATED.replace("stock", "bond")
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=short), Row(doc_id=2, text=long), Row(doc_id=3, text=UNRELATED)]
    )
    pairs = {(r.id_a, r.id_b): r for r in dd.ngram_containment_pairs(docs, n=3, threshold=0.9).collect()}
    assert (1, 2) in pairs
    r = pairs[(1, 2)]
    assert r.containment == 1.0  # every shingle of the short doc is in the long one
    assert r.n_shared == r.na
    # jaccard would have missed this pair at its 0.5 threshold
    jac = {(x.id_a, x.id_b) for x in dd.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()}
    assert (1, 2) not in jac
    # unrelated short doc does not reach the bar against doc 1
    assert (1, 3) not in pairs


def test_duplicate_spans_planted_and_merged(spark):
    """ExactSubstr-style spans on a hand corpus: a 10-word block shared
    by docs 1 and 2 is found in BOTH with exact word positions; an
    internal repeat inside one doc counts (the corpus occurrence bar
    is >= 2 occurrences, not >= 2 docs); unique text yields no spans."""
    blk = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    uniq1 = "one two three four five six seven eight nine ten eleven twelve"
    uniq2 = "red orange yellow green blue indigo violet cyan magenta black"
    docs = spark.createDataFrame(
        [
            # doc 1: unique prefix (12 words) then the shared block
            Row(doc_id=1, text=uniq1 + " " + blk),
            # doc 2: the shared block first, then unique tail
            Row(doc_id=2, text=blk + " " + uniq2),
            # doc 3: internal repetition only — block twice back-to-back
            Row(doc_id=3, text=blk + " " + blk),
            # doc 4: all-unique control
            Row(doc_id=4, text="aa bb cc dd ee ff gg hh ii jj kk ll mm nn"),
        ]
    )
    spans = {
        r.doc_id: (r.span_start, r.span_end, r.span_words)
        for r in dd.duplicate_spans(docs, w=8).collect()
    }
    assert spans[1] == (12, 21, 10)  # the block, after the 12-word prefix
    assert spans[2] == (0, 9, 10)
    assert spans[3] == (0, 19, 20)  # back-to-back repeat merges into one span
    assert 4 not in spans
    # every doc contributes at most this one maximal span here
    assert len(dd.duplicate_spans(docs, w=8).collect()) == 3


def test_lsh_recall_audit_catches_planted_dups(spark):
    """Near-identical docs land in the top Jaccard bucket with recall
    1.0 (16-hash/4-band theory: P(candidate) ~ 1 at s ~ 0.97)."""
    from pyspark.sql import functions as F

    # tokens must be pure alpha — the tokenizer strips digits
    base = " ".join(f"t{chr(97 + i // 26)}{chr(97 + i % 26)}" for i in range(40))
    rows = [
        (1, base),
        (2, base + " extra"),          # jaccard ~ 0.97 vs doc 1
        (3, " ".join(f"other{i}" for i in range(40))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    truth = dd.ngram_jaccard_pairs(docs, 3, 0.1, max_doc_freq=64)
    cand = dd.lsh_candidate_pairs(docs, 16, 4, 3)
    flagged = truth.join(cand.withColumn("caught", F.lit(1)), ["id_a", "id_b"], "left")
    got = {
        r.j_bucket: (r.n_pairs, r.caught_sum)
        for r in flagged.groupBy(
            F.least(F.floor(F.col("jaccard") * 5), F.lit(4)).cast("long").alias("j_bucket")
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"), F.sum(F.coalesce("caught", F.lit(0))).alias("caught_sum"))
        .collect()
    }
    assert got == {4: (1, 1)}  # the one planted pair, caught


def test_prefix_filter_matches_exact_join(docs):
    """Prefix filtering is a lossless prune: identical output to the
    full inverted-index join at every tested threshold."""
    for t in (0.3, 0.5, 0.8):
        exact = {
            (r.id_a, r.id_b): r.jaccard
            for r in dd.ngram_jaccard_pairs(docs, threshold=t).collect()
        }
        pf = {
            (r.id_a, r.id_b): r.jaccard
            for r in dd.prefix_filter_jaccard_pairs(docs, threshold=t).collect()
        }
        assert pf == exact


def test_prefix_filter_prunes_candidates(spark, sf_dir):
    """On the real corpus the prefix inverted index generates strictly
    fewer candidate pairs than the share-any-gram index, while the
    final output still matches the exact join (the lossless claim)."""
    from pyspark.sql import functions as F

    from mock_map_reduce_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    cand = dd.prefix_filter_candidates(docs, threshold=0.5, max_doc_freq=64).count()
    kept = dd._prefix_filter_doc_grams(docs, 3, "text", "doc_id", 64).select(
        "doc_id", F.explode("grams").alias("gram")
    )
    a = kept.select(F.col("doc_id").alias("id_a"), "gram")
    b = kept.select(F.col("doc_id").alias("id_b"), "gram")
    full = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .count()
    )
    assert 0 < cand < full
    exact = set(
        (r.id_a, r.id_b)
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.5, max_doc_freq=64).collect()
    )
    got = set(
        (r.id_a, r.id_b)
        for r in dd.prefix_filter_jaccard_pairs(
            docs, threshold=0.5, max_doc_freq=64
        ).collect()
    )
    assert got == exact


def test_min_prop_oracle_fragment_converges_and_probes():
    """The unrolled min-label-propagation oracle fragment (the scalable
    replacement for the recursive transitive-closure CTE) must (a)
    reach the true components on a chain — the worst diameter shape —
    and (b) fire its convergence sentinel LOUDLY when K is too small,
    never silently under-merge."""
    import duckdb

    from mock_map_reduce_spark.catalog.dedup import _min_prop_comp

    con = duckdb.connect()
    # nodes 1..6 in a chain, plus singleton 7: one component {1..6}.
    con.execute(
        "CREATE TABLE documents AS SELECT unnest(range(1, 8)) AS doc_id"
    )
    chain = "SELECT * FROM (VALUES (1,2),(2,3),(3,4),(4,5),(5,6)) v(id_a, id_b)"
    sql = (
        f"WITH edges AS ({chain}),\n"
        "sym AS MATERIALIZED (SELECT id_a AS s, id_b AS t FROM edges "
        "UNION SELECT id_b, id_a FROM edges),\n"
        f"{_min_prop_comp(k=12)}\n"
        "SELECT component, count(*) AS n FROM comp GROUP BY component "
        "UNION ALL SELECT -1, -1 FROM nonconv ORDER BY 1"
    )
    assert con.execute(sql).fetchall() == [(1, 6), (7, 1)]

    # k=0: l0 (1-hop mins) vs l1 still moving on a 5-edge chain ->
    # the sentinel row must appear.
    sql_small = (
        f"WITH edges AS ({chain}),\n"
        "sym AS MATERIALIZED (SELECT id_a AS s, id_b AS t FROM edges "
        "UNION SELECT id_b, id_a FROM edges),\n"
        f"{_min_prop_comp(k=0)}\n"
        "SELECT component, count(*) AS n FROM comp GROUP BY component "
        "UNION ALL SELECT -1, -1 FROM nonconv ORDER BY 1"
    )
    assert (-1, -1) in con.execute(sql_small).fetchall()
