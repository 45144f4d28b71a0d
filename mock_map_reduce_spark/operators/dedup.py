"""Deduplication operators over document tables — LLM-pipeline surface.

The reference has no dedup (its one query is word count); this family
is part of the engine's north-star extension (SURVEY §7 M3). All
operators are pure DataFrame compositions — no collect loops except
the bounded label-propagation iteration in ``connected_components``.

Scale design (100 TB):
  * Exact dedup shuffles 16-byte digests, never full texts.
  * Every pair generator (MinHash- and SimHash-LSH buckets, n-gram
    and prefix posting lists) groups ids by its key into one sorted
    list and emits each list's pairs with ``functions.pairs.
    ordered_pairs``: one shuffle for the grouping, O(list) task
    memory, and never a self-join or cross join. The one join of
    bucket rows left is ``incremental_lsh_candidates``' batch x index
    join, a cross-set result.
  * MinHash-LSH: cost is O(docs x num_hashes) map-side + one shuffle
    per band groupBy. ``max_bucket_size`` caps degenerate buckets (the
    classic boilerplate-text skew guard) — a bucket of B docs emits
    B^2/2 pairs, so one viral boilerplate string would otherwise emit
    billions.
  * Hashes are md5, computed in map-only Arrow kernels: bit-identical
    in DuckDB, so every catalog entry is oracle-checked.
  * Connected components: iterative smallest-label propagation over
    the candidate edge list; iterations are O(log(diameter)) and each
    is one join + agg — the standard scale-out approach when edges
    don't fit one machine.
"""

from __future__ import annotations

import re
import sys

from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame, functions as F

from mock_map_reduce_spark.functions.arrowcols import fixed_width, numeric, strings
from mock_map_reduce_spark.functions.arrowmap import arrow_map
from mock_map_reduce_spark.functions.materialize import materialize, release
from mock_map_reduce_spark.functions.pairs import ordered_pairs
from mock_map_reduce_spark.functions.partitioning import spread
from mock_map_reduce_spark.operators.text import WORD_SPLIT_RE, word_tokens

# Grams a Python-worker kernel buffers before it emits (shingles) or
# hashes and reduces (MinHash) them. Read when the DataFrame is built.
_GRAMS_PER_CHUNK = 1 << 18


def _doc_tokens(batches, id_col: str, text_col: str):
    """The tokenizer of the Arrow text kernels: per batch, its id column
    and an iterator of (row, tokens) over its docs. Tokens are the
    non-empty pieces of the lowercased text's UTF-8 bytes split on
    ``WORD_SPLIT_RE`` (a null text has none): ASCII letters are single
    bytes and every other character encodes to bytes >= 0x80, so the
    split is the one ``word_tokens`` makes on the str, and the tokens
    are md5-ready keys. Kernels take their ids by row position."""
    tok_re = re.compile(WORD_SPLIT_RE.encode())
    for batch in batches:
        texts = batch.column(batch.schema.get_field_index(text_col)).to_pylist()
        yield batch.column(batch.schema.get_field_index(id_col)), (
            (row, [t for t in tok_re.split((text or "").lower().encode()) if t])
            for row, text in enumerate(texts)
        )


def content_hash(text_col: str = "text") -> Column:
    """256-bit content digest — collision-safe key for exact dedup at 100 TB."""
    return F.sha2(F.col(text_col), 256)


def exact_dedup_groups(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct content: (keep_id = min id, n_copies).

    groupBy on the digest, not the text — the shuffle carries 32-byte
    keys instead of document bodies.
    """
    return (
        docs.select(content_hash(text_col).alias("chash"), F.col(id_col))
        .groupBy("chash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Surviving rows after exact dedup (keeps the min-id copy of each text)."""
    keep = exact_dedup_groups(docs, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return docs.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# Shingling + MinHash + LSH
# ---------------------------------------------------------------------------


def shingles(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, gram).

    Round-11: ONE map-only Arrow pass — the Python worker tokenizes
    (same ``WORD_SPLIT_RE`` split on the same lowercased text as the JVM
    formulation) and emits each doc's distinct grams in first-
    occurrence order, exactly what the previous split → transform →
    array_distinct → explode expression chain produced (verified
    row-identical at sf0.1 before landing). The JVM chain was pure
    per-row string CPU with no codegen advantage (measured 0.87 s warm
    at sf0.1 vs ~0.3 s for the kernel); batching it in the worker is
    guide §4.2. Docs shorter than n words yield no grams. The kernel
    emits a RecordBatch each time ``_GRAMS_PER_CHUNK`` rows are
    buffered, so a long document cannot grow one unbounded batch.
    """
    out_type = docs.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {out_type}, gram string"
    chunk = _GRAMS_PER_CHUNK  # read here, so a patched value ships

    def _gram_kernel(batches):
        import pyarrow as pa

        def gram_batch(id_arr, rows, grams):
            return pa.RecordBatch.from_arrays(
                [id_arr.take(numeric(rows, pa.int64())), strings(grams)],
                names=[id_col, "gram"],
            )

        for id_arr, docs in _doc_tokens(batches, id_col, text_col):
            out_row: list[int] = []  # batch position of each gram's doc
            out_gram: list[bytes] = []
            for row, toks in docs:
                if len(toks) < n:
                    continue
                # dict.fromkeys == array_distinct: first occurrence wins
                grams = dict.fromkeys(
                    b" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                )
                out_row.extend([row] * len(grams))
                out_gram.extend(grams)
                # emit each chunk as it fills; a chunk may split a doc
                while len(out_gram) >= chunk:
                    yield gram_batch(id_arr, out_row[:chunk], out_gram[:chunk])
                    del out_row[:chunk], out_gram[:chunk]
            if out_gram:
                yield gram_batch(id_arr, out_row, out_gram)

    return arrow_map(_gram_kernel, docs, [id_col, text_col], out_schema)


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signature per doc: (id, h0..h{k-1}).

    The k "permutations" are seeded hash functions; min over the
    shingle set approximates the Jaccard-preserving permutation min.
    md5 keeps the catalog entries oracle-checkable and runs as a
    map-only Arrow kernel (see inline note).

    Docs with fewer than n tokens have no shingles and are excluded.
    """
    # Chunked-md5 scheme: one md5 digest (16 bytes, 32 hex chars)
    # yields FOUR 32-bit hash functions (8-hex-char substrings), so
    # k=16 signatures cost num_hashes/4 md5 evaluations per shingle.
    #
    # One map-only Arrow pass per partition, emitting exactly one
    # row per doc with >= n tokens and no exchange. The worker
    # tokenizes (the same WORD_SPLIT_RE split on the same lowercased
    # text as DuckDB) and gives each gram an integer code from a
    # dict local to a chunk of about _GRAMS_PER_CHUNK grams (a
    # chunk ends at a doc boundary), so each distinct gram is
    # hashed once per chunk and seed, not once per doc. The
    # digests, viewed as big-endian uint32, are gathered by code
    # and each doc's minima come from one np.minimum.reduceat over
    # its gram offsets. Output is bit-identical to the
    # per-gram-string formulation: an 8-char lowercase hex string
    # orders exactly like its big-endian uint32, and a minimum over
    # a doc's gram multiset equals the minimum over its set. The hex
    # strings are built in NumPy (nibble -> digit table) straight into
    # the Arrow string buffer.
    n_digests = (num_hashes + 3) // 4
    chunk = _GRAMS_PER_CHUNK  # read here, so a patched value ships
    id_type = docs.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, " + ", ".join(
        f"h{i} string" for i in range(num_hashes)
    )

    def _sig_kernel(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa

        md5 = hashlib.md5
        seeds = [f"{s}|".encode() for s in range(n_digests)]
        names = [id_col] + [f"h{i}" for i in range(num_hashes)]
        hex_digits = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)
        nibble_shifts = np.arange(28, -1, -4, dtype=np.uint32)

        def signatures(id_arr, rows, codes, starts, grams):
            gather = np.asarray(codes, dtype=np.intp)
            offsets = np.asarray(starts, dtype=np.intp)
            mins = np.empty((len(starts), 4 * n_digests), dtype=np.uint32)
            for s, seed in enumerate(seeds):
                digests = b"".join([md5(seed + g).digest() for g in grams])
                words = np.frombuffer(digests, dtype=">u4").reshape(-1, 4)
                mins[:, 4 * s : 4 * s + 4] = np.minimum.reduceat(
                    words[gather], offsets, axis=0
                )
            # (docs, k, 8) hex digits, most significant nibble first
            digits = hex_digits[(mins[:, :num_hashes, None] >> nibble_shifts) & 15]
            return pa.RecordBatch.from_arrays(
                [id_arr.take(numeric(rows, pa.int64()))]
                + [fixed_width(digits[:, i]) for i in range(num_hashes)],
                names=names,
            )

        for id_arr, docs in _doc_tokens(batches, id_col, text_col):
            # rows: batch positions of the docs in this chunk;
            # codes: every gram's code, doc after doc; starts: each
            # doc's first position in codes; grams: gram -> code
            # (insertion order is code order).
            rows: list[int] = []
            codes: list[int] = []
            starts: list[int] = []
            grams: dict[bytes, int] = {}
            for row, toks in docs:
                if len(toks) < n:
                    continue
                rows.append(row)
                starts.append(len(codes))
                codes.extend(
                    [
                        grams.setdefault(b" ".join(toks[i : i + n]), len(grams))
                        for i in range(len(toks) - n + 1)
                    ]
                )
                if len(codes) >= chunk:
                    yield signatures(id_arr, rows, codes, starts, grams)
                    rows, codes, starts, grams = [], [], [], {}
            if rows:
                yield signatures(id_arr, rows, codes, starts, grams)

    return arrow_map(_sig_kernel, docs, [id_col, text_col], out_schema)


def lsh_band_buckets(
    signatures: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band_idx, bucket) — docs sharing a bucket are candidates.

    bucket = digest of the band's hash slice; rows/band = k/bands.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    rows = num_hashes // bands
    # Single pass: build all band digests as one array and posexplode —
    # a unionAll of per-band selects would re-evaluate the signature
    # expressions once per band.
    band_arr = F.array(
        *[
            F.md5(F.concat_ws("", *[F.col(f"h{b * rows + r}") for r in range(rows)]))
            for b in range(bands)
        ]
    )
    return signatures.select(
        F.col(id_col), F.posexplode(band_arr).alias("band_idx", "bucket")
    )


def _bucket_pairs(
    buckets: DataFrame, id_col: str, max_bucket_size: int | None = None
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing a (band_idx, bucket) row of
    ``buckets``: one groupBy(band_idx, bucket) into a sorted id list,
    then ``ordered_pairs`` per list. ``max_bucket_size`` drops larger
    buckets before any pair is emitted. Ids must be unique per band."""
    grouped = buckets.groupBy("band_idx", "bucket").agg(
        F.sort_array(F.collect_list(id_col)).alias("ids")
    )
    if max_bucket_size is not None:
        grouped = grouped.filter(F.size("ids") <= max_bucket_size)
    # a pair colliding in several bands is emitted once per band
    return ordered_pairs(grouped, "ids", "id_a", "id_b").distinct()


def lsh_candidate_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing >= 1 LSH bucket.

    Pairs are generated per bucket (``_bucket_pairs``), never by a
    join: one shuffle for the grouping, and per-bucket memory is
    O(bucket). ``max_bucket_size`` drops degenerate buckets before any
    pair is emitted (skew guard for boilerplate-heavy corpora).
    ``signatures`` lets a caller that already materialized
    minhash_signatures (e.g. for the estimator query) reuse it instead
    of re-running the shingle+signature pipeline.
    """
    sig = (
        signatures
        if signatures is not None
        else minhash_signatures(docs, num_hashes, n, text_col, id_col)
    )
    buckets = lsh_band_buckets(sig, num_hashes, bands, id_col)
    return _bucket_pairs(buckets, id_col, max_bucket_size)


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (verification pass over candidates, or standalone)
# ---------------------------------------------------------------------------


def _shared_gram_counts(
    docs: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
    max_doc_freq: int | None,
) -> DataFrame:
    """(id_a, id_b, n_shared, na, nb) for every doc pair sharing >= 1
    kept shingle; na, nb are the two docs' kept-shingle counts.

    ONE groupBy(gram) builds each gram's sorted posting list. The
    ``max_doc_freq`` stop-shingle cap is a size filter on it, so the
    capped grams leave both the intersection and the set sizes. Pairs
    come from ``ordered_pairs`` per list and the per-doc sizes
    re-derive from the same lists: both consumers read the
    groupBy(gram) exchange as ReusedExchange, so the scan + tokenize +
    shingle lineage shuffle-writes once.
    """
    grouped = shingles(docs, n, text_col, id_col).groupBy("gram").agg(
        F.sort_array(F.collect_list(id_col)).alias("ids")
    )
    if max_doc_freq is not None:
        grouped = grouped.filter(F.size("ids") <= max_doc_freq)
    kept = grouped.select("ids")
    sizes = (
        kept.select(F.explode("ids").alias(id_col))
        .groupBy(id_col)
        .agg(F.count("*").alias("n_grams"))
    )
    shared = (
        ordered_pairs(kept, "ids", "id_a", "id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_grams").alias("nb"))
    return shared.join(sa, "id_a").join(sb, "id_b")


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard over word n-gram sets: (id_a, id_b, jaccard).

    Pairs are generated ONLY through shared shingles (inverted index,
    ``_shared_gram_counts``), so disjoint docs never meet — no cross
    join. jaccard is a ratio of exact integer counts: bit-identical
    across engines.

    100 TB note: a shingle shared by D docs emits D(D-1)/2 pair rows;
    for web-scale corpora run this AFTER lsh_candidate_pairs
    (semi-join the shingle table on candidates) or set
    ``max_doc_freq`` — the stop-shingle guard excludes viral shingles
    from BOTH the intersection and the set sizes (jaccard is then over
    the non-stop shingle sets), bounding any one shingle's fan-out.
    """
    return (
        _shared_gram_counts(docs, n, text_col, id_col, max_doc_freq)
        .withColumn(
            "jaccard",
            F.col("n_shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs: n_shared / min(|A|, |B|).

    The asymmetric near-dup detector Jaccard misses: a short document
    fully embedded in a long one has low Jaccard (the union is large)
    but containment ~1.0 — the quote/boilerplate/subset case a
    training-corpus dedup pass must catch (the motivation for
    suffix-based substring dedup; this is its shingle-set
    approximation). Same shared-shingle counts as ngram_jaccard_pairs
    (``_shared_gram_counts``), ratios of exact integer counts
    (bit-identical across engines).
    """
    return (
        _shared_gram_counts(docs, n, text_col, id_col, max_doc_freq)
        .withColumn(
            "containment",
            F.col("n_shared").cast("double") / F.least("na", "nb").cast("double"),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "n_shared", "na", "nb", "containment")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    docs: DataFrame,
    bits: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash digest per doc: (id, simhash long).

    Token-level ``bits``-bit hashes vote per bit (+1 if set, -1 if
    not); the digest takes the sign of each bit's tally. A token's bit
    pattern is the first bits/4 hex chars of its md5 (4 bits per
    nibble), the same trick as minhash_signatures, so the digest is
    bit-reproducible in DuckDB and the catalog entry is oracle-checked.
    """
    # ONE map-only Arrow pass. An earlier md5 pipeline exploded tokens
    # (corpus-scale rows), then posexploded a 64-element ±1 vote array
    # per token (64× the token count!) through TWO aggregation
    # exchanges — at sf10 that was 668 s and the candidate query's
    # gate-infra failure. The kernel computes the identical digest per
    # doc: hashlib md5 == JVM/DuckDB md5, nibble i = hex char i of the
    # digest, bit b votes +1 iff (nib[b//4] >> (b%4)) & 1, digest bit
    # set iff the token-vote tally is > 0, bits folded with int64
    # wraparound exactly like the JVM's shiftleft sum. Zero-token docs
    # emit no row, as the explode formulation did. (guide §4.2 + §2.3:
    # shuffle NOTHING instead of tokens×64 vote rows.)
    id_type = docs.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, simhash bigint"
    nib_count = bits // 4

    def _simhash_kernel(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa

        md5 = hashlib.md5
        nbytes = (nib_count + 1) // 2
        bitpos = np.arange(bits)
        nibidx = bitpos // 4
        shift = bitpos % 4
        for id_arr, docs in _doc_tokens(batches, id_col, text_col):
            out_row: list[int] = []
            out_sh: list[int] = []
            for row, toks in docs:
                if not toks:
                    continue  # explode semantics: no tokens, no row
                raw = b"".join(md5(t).digest()[:nbytes] for t in toks)
                d = np.frombuffer(raw, dtype=np.uint8).reshape(
                    len(toks), nbytes
                )
                # hex char order: char 2i = high nibble of byte i,
                # char 2i+1 = low nibble
                nib = np.empty((len(toks), nbytes * 2), dtype=np.uint8)
                nib[:, 0::2] = d >> 4
                nib[:, 1::2] = d & 15
                ones = ((nib[:, nibidx] >> shift) & 1).sum(
                    axis=0, dtype=np.int64
                )
                # tally = ones - zeros = 2*ones - T; bit set iff > 0
                set_bits = np.nonzero(2 * ones - len(toks) > 0)[0]
                val = 0
                for b in set_bits:
                    val |= 1 << int(b)
                if val >= 1 << 63:  # int64 two's-complement wrap,
                    val -= 1 << 64  # matching the JVM shiftleft sum
                out_row.append(row)
                out_sh.append(val)
            yield pa.RecordBatch.from_arrays(
                [
                    id_arr.take(numeric(out_row, pa.int64())),
                    numeric(out_sh, pa.int64()),
                ],
                names=[id_col, "simhash"],
            )

    return arrow_map(_simhash_kernel, docs, [id_col, text_col], out_schema)


def simhash_candidate_pairs(
    docs: DataFrame,
    bands: int = 4,
    bits: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pairs whose simhash matches on >= 1 of ``bands`` bit-blocks.

    Standard Hamming-LSH: two docs within (bands-1) bit flips always
    share a block. Block extraction via shift/mask; each (band, block)
    is a bucket, paired by the same ``_bucket_pairs`` as MinHash-LSH.
    """
    block_bits = bits // bands
    mask = (1 << block_bits) - 1
    sh = simhash(docs, bits, text_col, id_col)
    # One pass over the simhash column: a unionAll of per-band selects
    # would recompute the simhash kernel per band.
    block_arr = F.array(
        *[
            F.shiftright(F.col("simhash"), b * block_bits).bitwiseAND(F.lit(mask))
            for b in range(bands)
        ]
    )
    blocks = sh.select(
        F.col(id_col), F.posexplode(block_arr).alias("band_idx", "bucket")
    )
    return _bucket_pairs(blocks, id_col)


# ---------------------------------------------------------------------------
# Connected components (duplicate clusters from candidate edges)
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """(id, component = smallest reachable id) via label propagation.

    Each iteration: every node adopts the min label among itself and
    its neighbors; converges in O(log diameter) rounds for duplicate
    clusters (which are near-cliques, so 2-3 rounds in practice).
    Driver only checks a scalar convergence flag per round — labels
    never leave the cluster.
    """
    # Materialize edges and seed labels ONCE: without the checkpoint,
    # every round's convergence check would re-execute the full edge
    # lineage (e.g. the whole LSH pipeline) from scratch — k rounds of
    # O(k) recomputes. materialize pins the result so each round
    # is exactly one join + agg over materialized inputs.
    sym = materialize(
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionAll(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    )
    labels = materialize(ids.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("component")
    ))
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
                ).alias("component"),
            )
        )
        new_labels = materialize(new_labels, cut_lineage=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        release(labels)  # superseded round pin: last read by `changed` above
        labels = new_labels
        if changed == 0:
            break
    release(sym)  # edges were only read inside the loop
    return labels.select(F.col("node").alias(id_col), "component")


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------


def benchmark_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus docs sharing >= 1 word n-gram with an eval/benchmark set:
    (id, n_shared_grams, n_grams, overlap_ratio).

    The training-data decontamination primitive: before training,
    drop (or flag) documents that leak benchmark content.

    100 TB story: eval sets are tiny next to the corpus, so the
    DISTINCT benchmark gram set broadcasts — detection is a
    broadcast-hash join riding the corpus scan; corpus grams are
    never shuffled. Both aggregates are per-doc counts with map-side
    partial combine.
    """
    bg = shingles(benchmark, n, text_col, id_col).select("gram").distinct()
    cg = shingles(corpus, n, text_col, id_col)
    sizes = cg.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    shared = (
        cg.join(F.broadcast(bg), "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared_grams"))
    )
    return (
        shared.join(sizes, id_col)
        .withColumn(
            "overlap_ratio",
            F.col("n_shared_grams").cast("double") / F.col("n_grams").cast("double"),
        )
        .select(id_col, "n_shared_grams", "n_grams", "overlap_ratio")
    )


def incremental_lsh_candidates(
    batch: DataFrame,
    index: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_new, id_old) near-dup candidates between a NEW batch and an
    EXISTING corpus — the daily-ingest dedup pattern.

    Only batch x index band collisions are generated; the index is
    never re-paired against itself. At 100 TB the index side's band
    buckets are a PRECOMPUTED stored table (write
    ``lsh_band_buckets(minhash_signatures(index))`` partitioned by
    (band_idx, bucket) once); each day's batch — typically orders of
    magnitude smaller — hashes, bands, and joins into it, so
    incremental dedup costs O(batch + matched buckets), not
    O(corpus²) or even O(corpus).
    """
    sb = minhash_signatures(batch, num_hashes, n, text_col, id_col)
    si = minhash_signatures(index, num_hashes, n, text_col, id_col)
    bb = lsh_band_buckets(sb, num_hashes, bands, id_col).select(
        F.col(id_col).alias("id_new"), "band_idx", "bucket"
    )
    bi = lsh_band_buckets(si, num_hashes, bands, id_col).select(
        F.col(id_col).alias("id_old"), "band_idx", "bucket"
    )
    return (
        bb.join(bi, ["band_idx", "bucket"])
        .select("id_new", "id_old")
        .distinct()
    )


def duplicate_spans(
    docs: DataFrame,
    w: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_occ: int = 64,
) -> DataFrame:
    """Exact-substring duplicate spans: per doc, the maximal word
    ranges whose every w-gram window occurs at least twice anywhere in
    the corpus (including elsewhere in the same doc) — the
    suffix-array "exact substring" dedup of Lee et al. 2022
    (Deduplicating Training Data Makes Language Models Better),
    re-expressed over fixed-width token windows so it distributes:
    (doc_id, span_start, span_end, span_words) on word positions.

    Plan: ONE positional w-gram explode rides the scan (codegen
    transform over the materialized token array, ~n_words rows per
    doc); a groupBy(gram) collects each gram's occurrence list —
    occurrence lists above ``max_occ`` are stop-grams (viral
    boilerplate; dropped like ngram_jaccard's MAX_DOC_FREQ cap, and
    mirrored in the oracle) so no single hot window can fan out a
    reducer; surviving duplicated positions re-explode (O(dup
    positions), never pairs) and per-doc span merging is one window
    pass — two exchanges total, payloads O(corpus positions),
    independent of pair counts. Windows at positions p, q merge when
    q <= p + w (their word ranges overlap or touch), so each output
    row is a maximal duplicated range.
    """
    from pyspark.sql.window import Window

    toks = spread(docs.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), word_tokens(text_col).alias("__toks")
    )
    idx = F.when(
        F.size("__toks") >= w, F.sequence(F.lit(0), F.size("__toks") - w)
    ).otherwise(F.array().cast("array<int>"))
    grams = toks.select(
        F.col(id_col),
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("pos"),
                    F.concat_ws(" ", F.slice(F.col("__toks"), i + 1, w)).alias(
                        "gram"
                    ),
                ),
            )
        ).alias("g"),
    ).select(id_col, "g.pos", "g.gram")
    # Duplicated-position detection via a WINDOWED count over one
    # gram-keyed exchange — never a collect_list: WindowExec buffers a
    # gram's rows in a spillable array, so a viral boilerplate gram
    # costs disk, not reducer heap (the pre-round-7 collect_list built
    # the full occurrence list in one aggregation buffer). One window
    # beats the count-aggregate + semi-join alternative too: the
    # aggregate's exchange carries count buffers and the probe's
    # carries rows, so they can never unify as ReusedExchange — the
    # join form either re-derives the gram explode from the scan or
    # broadcasts a corpus-cardinality keep set. Here the gram lineage
    # computes once and the plan keeps the original two corpus
    # exchanges (gram, then doc).
    wg = Window.partitionBy("gram")
    dup = (
        grams.withColumn("__n", F.count(F.lit(1)).over(wg))
        .filter((F.col("__n") >= 2) & (F.col("__n") <= max_occ))
        .select(id_col, "pos")
    )
    ws = Window.partitionBy(id_col).orderBy("pos")
    marked = dup.withColumn(
        "new",
        F.when(
            F.lag("pos").over(ws).isNull()
            | (F.col("pos") > F.lag("pos").over(ws) + w),
            1,
        ).otherwise(0),
    )
    spans = marked.withColumn(
        "sid", F.sum("new").over(ws.rowsBetween(Window.unboundedPreceding, 0))
    )
    return spans.groupBy(id_col, "sid").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + F.lit(w - 1)).cast("long").alias("span_end"),
        (F.max("pos") + F.lit(w) - F.min("pos")).cast("long").alias("span_words"),
    ).select(id_col, "span_start", "span_end", "span_words")


def _prefix_filter_doc_grams(
    docs: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
    max_doc_freq: int | None,
) -> DataFrame:
    """(id, grams) — each doc's kept shingles as ONE array in the
    global canonical order (ascending document frequency, gram as
    tie-break; rarest first). The shared input of prefix candidate
    generation and exact verify; callers materialize it ONCE
    (materialize) because its consumers are keyed differently."""
    g = shingles(docs, n, text_col, id_col)
    # The grouped posting-list trick (as in _shared_gram_counts): ONE groupBy(gram) yields both the stop-gram cap
    # (a size filter on the grouped row) and the document frequency
    # (the list's own length) — no separate df aggregate and no
    # gram-keyed join back. The per-doc sort is partition-local and
    # doc-length-bounded.
    grouped = g.groupBy("gram").agg(F.collect_list(id_col).alias("ids"))
    if max_doc_freq is not None:
        grouped = grouped.filter(F.size("ids") <= max_doc_freq)
    kept = grouped.select(
        F.size("ids").alias("gdf"), "gram", F.explode("ids").alias(id_col)
    )
    return kept.groupBy(id_col).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("gdf", "gram"))),
            lambda x: x["gram"],
        ).alias("grams")
    )


def prefix_filter_candidates(
    docs: DataFrame | None = None,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
    doc_grams: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs (id_a, id_b, na, nb) from PREFIX grams only.

    Each doc's kept grams sort by the global canonical order
    (ascending document frequency, rarest first); a doc of m grams
    contributes only its first m - ceil(t*m) + 1 grams to the
    inverted index. Theorem (Bayardo et al. 2007 / Xiao et al. 2008):
    if jaccard(a, b) >= t the intersection has >= ceil(t*max(m_a,
    m_b)) grams — more than either doc's dropped suffix — so under a
    common total order the earliest shared gram lands in BOTH
    prefixes: no >=t pair is lost. A length filter (J >= t forces
    t*m_a <= m_b <= m_a/t) prunes survivors further, also losslessly.
    """
    if doc_grams is None:
        doc_grams = _prefix_filter_doc_grams(docs, n, text_col, id_col, max_doc_freq)
    m = F.size("grams")
    p = (m - F.ceil(m * F.lit(threshold)) + 1).cast("int")
    pre = doc_grams.select(
        F.col(id_col),
        m.alias("m"),
        F.explode(F.slice(F.col("grams"), F.lit(1), p)).alias("gram"),
    )
    # Pairs emit per prefix-gram posting list (ordered_pairs): one
    # groupBy(gram) exchange instead of a two-sided self-join, O(list)
    # task memory.
    grouped = pre.groupBy("gram").agg(
        F.sort_array(F.collect_list(F.struct(F.col(id_col), F.col("m")))).alias("ids")
    )
    pairs = ordered_pairs(grouped, "ids", "a", "b").select(
        F.col("a")[id_col].alias("id_a"),
        F.col("a")["m"].alias("ma"),
        F.col("b")[id_col].alias("id_b"),
        F.col("b")["m"].alias("mb"),
    )
    return (
        pairs.filter(F.col("mb").cast("double") >= F.lit(threshold) * F.col("ma"))
        .filter(F.col("ma").cast("double") >= F.lit(threshold) * F.col("mb"))
        .groupBy("id_a", "id_b")
        .agg(F.first("ma").alias("na"), F.first("mb").alias("nb"))
    )


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard-threshold self-join via PREFIX FILTERING (the
    AllPairs/PPJoin family: Bayardo et al. 2007, Xiao et al. 2008) —
    the candidate pruner that needs NO hashing and loses NO pairs.

    Candidates come from ``prefix_filter_candidates`` (see its
    docstring for the lossless-prefix theorem); survivors get the
    exact verify as an IN-ROW array_intersect over the two docs'
    materialized gram arrays — two id-keyed joins at candidate
    cardinality, no per-gram positional shuffle. Output is IDENTICAL
    to ngram_jaccard_pairs — the prune is semantics-free (same
    contract as the Bloom join's).

    The doc-gram table is materialized ONCE (materialize(), the
    semdedup/bpe convention) because its three consumers — the prefix
    explode and both verify sides — are keyed differently, and
    without the pin the scan+shingle+df lineage would re-execute per
    consumer (measured 6.9 s -> ~2 s at sf0.1).

    100 TB note: LSH trades recall for pruning; prefix filtering is
    LOSSLESS and skew-friendly by construction — the grams that fan
    out worst (high doc-freq) sort LAST and fall out of every prefix,
    so the join only ever fans out on rare grams, capped further by
    ``max_doc_freq``. Gram arrays are doc-length-bounded (the
    collect_list ceiling every posting-list operator here shares).
    Candidate count shrinkage vs the full inverted index is pinned by
    tests/test_dedup.py.
    """
    doc_grams = materialize(_prefix_filter_doc_grams(
        docs, n, text_col, id_col, max_doc_freq
    ))
    cand = prefix_filter_candidates(
        None, n, threshold, text_col, id_col, max_doc_freq, doc_grams=doc_grams
    )
    pa = doc_grams.select(F.col(id_col).alias("id_a"), F.col("grams").alias("ga"))
    pb = doc_grams.select(F.col(id_col).alias("id_b"), F.col("grams").alias("gb"))
    return (
        cand.join(pa, "id_a")
        .join(pb, "id_b")
        .withColumn("n_shared", F.size(F.array_intersect("ga", "gb")))
        .withColumn(
            "jaccard",
            F.col("n_shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# Ship by value, like operators/multimodal.py: the text kernels call
# _doc_tokens in a worker without the repo on its sys.path.
cloudpickle.register_pickle_by_value(sys.modules[__name__])
