"""Deduplication operators over document tables — LLM-pipeline surface.

The reference has no dedup (its one query is word count); this family
is part of the engine's north-star extension (SURVEY §7 M3). All
operators are pure DataFrame compositions — no collect loops except
the bounded label-propagation iteration in ``connected_components``.

Scale design (100 TB):
  * Exact dedup shuffles 16-byte digests, never full texts.
  * MinHash-LSH: cost is O(docs x num_hashes) map-side + one shuffle
    per band groupBy; candidate pairs are generated per-bucket, never
    via cross join. ``max_bucket_size`` caps degenerate buckets (the
    classic boilerplate-text skew guard) — a bucket of B docs emits
    B^2/2 pairs, so one viral boilerplate string would otherwise emit
    billions.
  * Hash function is pluggable: md5 (bit-identical in DuckDB — used
    by the oracle-checked catalog entries) or xxhash64 (faster JVM
    path for production).
  * Connected components: iterative smallest-label propagation over
    the candidate edge list; iterations are O(log(diameter)) and each
    is one join + agg — the standard scale-out approach when edges
    don't fit one machine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from mock_map_reduce_spark.functions.materialize import materialize, release
from mock_map_reduce_spark.functions.partitioning import spread as _spread
from mock_map_reduce_spark.functions.zipimports import reuse_zip_directories

# Normalized tokens for fuzzy dedup: lowercase alphabetic runs.
_TOKEN_RE = "[^A-Za-z]+"


def _norm_tokens(text_col: str) -> Column:
    toks = F.split(F.lower(F.col(text_col)), _TOKEN_RE)
    return F.filter(toks, lambda x: x != "")


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
    (same ``[^A-Za-z]+`` split on the same lowercased text as the JVM
    formulation) and emits each doc's distinct grams in first-
    occurrence order, exactly what the previous split → transform →
    array_distinct → explode expression chain produced (verified
    row-identical at sf0.1 before landing). The JVM chain was pure
    per-row string CPU with no codegen advantage (measured 0.87 s warm
    at sf0.1 vs ~0.3 s for the kernel); batching it in the worker is
    guide §4.2. Docs shorter than n words yield no grams.
    """
    out_type = docs.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {out_type}, gram string"

    def _gram_kernel(batches):
        reuse_zip_directories()
        import re

        import pyarrow as pa

        tok_re = re.compile(_TOKEN_RE)
        for batch in batches:
            id_arr = batch.column(batch.schema.get_field_index(id_col))
            texts = batch.column(
                batch.schema.get_field_index(text_col)
            ).to_pylist()
            ids = id_arr.to_pylist()
            out_id: list = []
            out_gram: list[str] = []
            for did, text in zip(ids, texts):
                toks = [t for t in tok_re.split((text or "").lower()) if t]
                if len(toks) < n:
                    continue
                # dict.fromkeys == array_distinct: first occurrence wins
                for g in dict.fromkeys(
                    " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                ):
                    out_id.append(did)
                    out_gram.append(g)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_id, type=id_arr.type),
                    pa.array(out_gram, type=pa.string()),
                ],
                names=[id_col, "gram"],
            )

    return _spread(
        docs.select(F.col(id_col), F.col(text_col)), heavy=True
    ).mapInArrow(_gram_kernel, out_schema)


def _gram_hash(seed: int, gram: Column, use_md5: bool) -> Column:
    if use_md5:
        return F.md5(F.concat(F.lit(f"{seed}|"), gram))
    return F.xxhash64(F.lit(seed), gram).cast("string")


def _grams_of(toks: Column, n: int) -> Column:
    """Distinct word n-gram shingles from a MATERIALIZED token array column.

    ``toks`` must be a plain column reference (not an inline split
    expression): the transform lambda evaluates its operand expression
    per element, so an inline tokenizer would re-run the regex split
    once per gram — O(tokens^2) per document.

    Guard: F.sequence(0, -1) would count DOWN; docs with < n tokens
    must yield an empty index list, not grams at negative offsets.
    """
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    use_md5: bool = True,
) -> DataFrame:
    """MinHash signature per doc: (id, h0..h{k-1}).

    The k "permutations" are seeded hash functions; min over the
    shingle set approximates the Jaccard-preserving permutation min.
    md5 keeps the catalog entries oracle-checkable (codegen'd
    explode/groupBy formulation — see inline note); xxhash64 is the
    alternate fast hash computed as a map-only fold (use_md5=False).

    Docs with fewer than n tokens have no shingles and are excluded
    in both formulations.
    """
    if use_md5:
        # Chunked-md5 scheme: one md5 hex digest (32 chars) yields FOUR
        # 32-bit hash functions (8-hex-char substrings), so k=16
        # signatures cost num_hashes/4 md5 evaluations per shingle.
        #
        # Round-11 formulation: ONE map-only Arrow pass per partition —
        # the Python worker tokenizes, builds the distinct gram set,
        # hashes (hashlib md5 == JVM/DuckDB md5, same hex), and keeps
        # the per-chunk minimum, emitting exactly one row per doc with
        # ≥ n tokens. The previous explode → md5 projection → substring
        # → groupBy(min×k) pipeline was whole-stage-codegen but still
        # materialized O(grams) rows and paid a partial-min aggregate +
        # exchange; the kernel emits O(docs) rows and NO exchange at
        # all (guide §4.2 — batch the custom logic in the worker, §2.4
        # — remove the shuffle outright). Measured 2.2× at sf0.1 and
        # bit-identical output (min over hex strings is the same
        # byte-wise comparison in Python and the JVM; tokenization is
        # the same [^A-Za-z]+ split on the same lowercased text).
        n_digests = (num_hashes + 3) // 4
        id_type = docs.schema[id_col].dataType.simpleString()
        out_schema = f"{id_col} {id_type}, " + ", ".join(
            f"h{i} string" for i in range(num_hashes)
        )

        def _sig_kernel(batches):
            reuse_zip_directories()
            import hashlib
            import re

            import pyarrow as pa

            tok_re = re.compile(_TOKEN_RE)
            md5 = hashlib.md5
            seeds = [f"{s}|".encode() for s in range(n_digests)]
            for batch in batches:
                id_arr = batch.column(batch.schema.get_field_index(id_col))
                ids = id_arr.to_pylist()
                texts = batch.column(batch.schema.get_field_index(text_col)).to_pylist()
                out_ids: list = []
                sig_cols: list[list[str]] = [[] for _ in range(num_hashes)]
                for did, text in zip(ids, texts):
                    toks = [t for t in tok_re.split((text or "").lower()) if t]
                    if len(toks) < n:
                        continue
                    grams = {
                        " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                    }
                    mins: list[str | None] = [None] * num_hashes
                    for g in grams:
                        gb = g.encode()
                        for s in range(n_digests):
                            hx = md5(seeds[s] + gb).hexdigest()
                            for c in range(4):
                                k = s * 4 + c
                                if k >= num_hashes:
                                    break
                                piece = hx[8 * c : 8 * c + 8]
                                cur = mins[k]
                                if cur is None or piece < cur:
                                    mins[k] = piece
                    out_ids.append(did)
                    for k in range(num_hashes):
                        sig_cols[k].append(mins[k])
                yield pa.RecordBatch.from_arrays(
                    [pa.array(out_ids, type=id_arr.type)]
                    + [pa.array(c, type=pa.string()) for c in sig_cols],
                    names=[id_col] + [f"h{i}" for i in range(num_hashes)],
                )

        return _spread(
            docs.select(F.col(id_col), F.col(text_col)), heavy=True
        ).mapInArrow(_sig_kernel, out_schema)

    base = (
        _spread(docs.select(F.col(id_col), F.col(text_col)), heavy=True)
        .select(F.col(id_col), _norm_tokens(text_col).alias("__toks"))
        .select(F.col(id_col), _grams_of(F.col("__toks"), n).alias("__grams"))
        .filter(F.size("__grams") > 0)
    )
    sig_cols = [
        F.array_min(
            F.transform(F.col("__grams"), (lambda i: lambda g: _gram_hash(i, g, False))(i))
        ).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return base.select(F.col(id_col), *sig_cols)


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


def lsh_candidate_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    use_md5: bool = True,
    max_bucket_size: int | None = None,
    via: str = "group",
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing >= 1 LSH bucket.

    Pairs are generated per-bucket — never a cross join.
    ``max_bucket_size`` drops degenerate buckets before any pair is
    emitted (skew guard for boilerplate-heavy corpora).
    ``signatures`` lets a caller that already materialized
    minhash_signatures (e.g. for the estimator query) reuse it instead
    of re-running the shingle+signature pipeline.

    Two physical strategies (identical results):
      * ``via="group"`` (default): groupBy(band, bucket) ->
        sort_array(collect_list(id)) -> emit each element's ordered
        suffix as partners (posexplode + slice-explode). One shuffle
        for the grouping, the skew guard is a size() filter, and the
        per-bucket memory is O(bucket) — never the O(bucket^2) pair
        array, since the second explode streams off a bounded slice.
      * ``via="join"``: classic bucket self-join over one shared
        exchange (ReusedExchange). Same shuffle count but adds the
        join + (when capped) a separate bucket-size agg + join; kept
        for the plan-shape tests and as the fallback if a single
        bucket's id list could not fit in one task (not reachable
        with the cap on).
    """
    sig = (
        signatures
        if signatures is not None
        else minhash_signatures(docs, num_hashes, n, text_col, id_col, use_md5)
    )
    buckets = lsh_band_buckets(sig, num_hashes, bands, id_col)
    if via == "group":
        grouped = buckets.groupBy("band_idx", "bucket").agg(
            F.sort_array(F.collect_list(id_col)).alias("ids")
        )
        grouped = grouped.filter(F.size("ids") > 1)
        if max_bucket_size is not None:
            grouped = grouped.filter(F.size("ids") <= max_bucket_size)
        return (
            grouped.select("ids", F.posexplode("ids").alias("__i", "id_a"))
            # partners = the sorted suffix after position __i (0-based),
            # so id_a < id_b holds by construction and each unordered
            # pair is emitted once per colliding bucket
            .select(
                "id_a",
                F.explode(F.expr("slice(ids, __i + 2, size(ids))")).alias("id_b"),
            )
            .distinct()
        )
    # via="join": materialize one exchange on the join keys so both
    # sides of the self-join share it (ReusedExchange) and the
    # signature computation runs exactly once.
    buckets = buckets.repartition("band_idx", "bucket")
    if max_bucket_size is not None:
        sizes = buckets.groupBy("band_idx", "bucket").agg(F.count("*").alias("bsz"))
        buckets = buckets.join(
            sizes.filter(F.col("bsz") <= max_bucket_size).drop("bsz"),
            ["band_idx", "bucket"],
        )
    a = buckets.select(
        F.col(id_col).alias("id_a"), "band_idx", "bucket"
    )
    b = buckets.select(F.col(id_col).alias("id_b"), "band_idx", "bucket")
    return (
        a.join(b, ["band_idx", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (verification pass over candidates, or standalone)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
    via: str = "group",
) -> DataFrame:
    """Exact Jaccard over word n-gram sets: (id_a, id_b, jaccard).

    Pairs are generated ONLY through shared shingles (inverted index),
    so disjoint docs never meet — no cross join. jaccard is a ratio of
    exact integer counts: bit-identical across engines.

    ``via="group"`` (default): ONE groupBy(gram) builds each gram's
    sorted posting list; pairs are emitted per-list with the ordered-
    suffix slice-explode (the lsh_candidate_pairs trick) and the
    ``max_doc_freq`` stop-shingle cap becomes a plain size(ids) filter
    on the grouped row — the doc-freq pre-aggregation, the broadcast
    anti-join, AND the gram self-join all disappear. Per-doc kept-gram
    sizes re-derive from the same posting lists, so the shingle
    lineage runs once. ``via="join"`` keeps the classic two-sided
    inverted-index join formulation (one materialized gram exchange
    consumed by both sides as ReusedExchange).

    100 TB note: a shingle shared by D docs emits D(D-1)/2 pair rows;
    for web-scale corpora run this AFTER lsh_candidate_pairs
    (semi-join the shingle table on candidates) or set
    ``max_doc_freq`` — the stop-shingle guard excludes viral shingles
    from BOTH the intersection and the set sizes (jaccard is then over
    the non-stop shingle sets), bounding any one shingle's fan-out.
    """
    g = shingles(docs, n, text_col, id_col)
    if via == "group":
        grouped = g.groupBy("gram").agg(
            F.sort_array(F.collect_list(id_col)).alias("ids")
        )
        if max_doc_freq is not None:
            grouped = grouped.filter(F.size("ids") <= max_doc_freq)
        # Both consumers below share the groupBy(gram) exchange as
        # ReusedExchange — the scan+tokenize+shingle lineage (the
        # expensive part) shuffle-writes once; only the cheap final agg
        # over posting lists re-runs per consumer.
        kept = grouped.select("ids")
        sizes = (
            kept.select(F.explode("ids").alias(id_col))
            .groupBy(id_col)
            .agg(F.count("*").alias("n_grams"))
        )
        shared = (
            kept.filter(F.size("ids") > 1)
            .select("ids", F.posexplode("ids").alias("__i", "id_a"))
            .select(
                "id_a",
                F.explode(F.expr("slice(ids, __i + 2, size(ids))")).alias("id_b"),
            )
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_shared"))
        )
        sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_grams").alias("na"))
        sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_grams").alias("nb"))
        return (
            shared.join(sa, "id_a")
            .join(sb, "id_b")
            .withColumn(
                "jaccard",
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared")).cast("double"),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    if max_doc_freq is not None:
        # anti-join against the STOP list (grams above the cap) — that
        # list is tiny by construction, so it broadcasts even when the
        # full vocabulary would not. The doc-freq agg has map-side
        # combine, so the viral gram costs one partial row per input
        # partition — skew-safe where a count-over-window would pile
        # every copy of the hot gram into one task.
        stop = (
            g.groupBy("gram")
            .agg(F.count("*").alias("gdf"))
            .filter(F.col("gdf") > max_doc_freq)
            .select("gram")
        )
        g = g.join(F.broadcast(stop), "gram", "left_anti")
    # Materialize ONE gram-hash exchange that every downstream consumer
    # shares: both self-join sides read it as ReusedExchange (the join's
    # distribution requirement is already satisfied — no further
    # shuffle), and sizes' partial count collapses before its own small
    # exchange. Without this, the scan+tokenize+shingle lineage re-runs
    # per consumer.
    g = g.repartition("gram")
    sizes = g.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    a = g.select(F.col(id_col).alias("id_a"), "gram")
    b = g.select(F.col(id_col).alias("id_b"), "gram")
    shared = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_grams").alias("nb"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
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
    approximation). Same grouped posting-list plan as
    ngram_jaccard_pairs via="group": ONE groupBy(gram) exchange, pairs
    emitted per posting list by ordered-suffix slice-explode,
    max_doc_freq as a plain size filter, ratios of exact integer
    counts (bit-identical across engines).
    """
    g = shingles(docs, n, text_col, id_col)
    grouped = g.groupBy("gram").agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
    if max_doc_freq is not None:
        grouped = grouped.filter(F.size("ids") <= max_doc_freq)
    kept = grouped.select("ids")
    sizes = (
        kept.select(F.explode("ids").alias(id_col))
        .groupBy(id_col)
        .agg(F.count("*").alias("n_grams"))
    )
    shared = (
        kept.filter(F.size("ids") > 1)
        .select("ids", F.posexplode("ids").alias("__i", "id_a"))
        .select(
            "id_a",
            F.explode(F.expr("slice(ids, __i + 2, size(ids))")).alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_grams").alias("nb"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
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
    use_md5: bool = False,
) -> DataFrame:
    """SimHash digest per doc: (id, simhash long).

    Token-level ``bits``-bit hashes vote per bit (+1 if set, -1 if
    not); the digest takes the sign of each bit's tally. Whole
    pipeline is JVM-side: explode tokens -> hash -> per-bit ±1 array
    -> elementwise sum (explode + groupBy) -> sign -> bits folded
    back into one long.

    use_md5=True derives the token's bit pattern from the first
    bits/4 hex chars of md5 (4 bits per nibble) instead of xxhash64 —
    same trick as minhash_signatures — making the digest
    bit-reproducible in DuckDB so the catalog entry is
    oracle-checked. xxhash64 (default) is the fast single-fold path.
    """
    if use_md5:
        # Round-11: ONE map-only Arrow pass. The previous md5 pipeline
        # exploded tokens (corpus-scale rows), then posexploded a
        # 64-element ±1 vote array per token (64× the token count!)
        # through TWO aggregation exchanges — at sf10 that was 668 s
        # and the candidate query's gate-infra failure. The kernel
        # computes the identical digest per doc: hashlib md5 == JVM/
        # DuckDB md5, nibble i = hex char i of the digest, bit b votes
        # +1 iff (nib[b//4] >> (b%4)) & 1, digest bit set iff the
        # token-vote tally is > 0, bits folded with int64 wraparound
        # exactly like the JVM's shiftleft sum. Zero-token docs emit no
        # row, as the explode formulation did. (guide §4.2 + §2.3:
        # shuffle NOTHING instead of tokens×64 vote rows.)
        id_type = docs.schema[id_col].dataType.simpleString()
        out_schema = f"{id_col} {id_type}, simhash bigint"
        nib_count = bits // 4

        def _simhash_kernel(batches):
            reuse_zip_directories()
            import hashlib
            import re

            import numpy as np
            import pyarrow as pa

            tok_re = re.compile(_TOKEN_RE)
            md5 = hashlib.md5
            nbytes = (nib_count + 1) // 2
            bitpos = np.arange(bits)
            nibidx = bitpos // 4
            shift = bitpos % 4
            for batch in batches:
                id_arr = batch.column(batch.schema.get_field_index(id_col))
                texts = batch.column(
                    batch.schema.get_field_index(text_col)
                ).to_pylist()
                out_id: list = []
                out_sh: list[int] = []
                for did, text in zip(id_arr.to_pylist(), texts):
                    toks = [
                        t for t in tok_re.split((text or "").lower()) if t
                    ]
                    if not toks:
                        continue  # explode semantics: no tokens, no row
                    raw = b"".join(md5(t.encode()).digest()[:nbytes] for t in toks)
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
                    out_id.append(did)
                    out_sh.append(val)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(out_id, type=id_arr.type),
                        pa.array(out_sh, type=pa.int64()),
                    ],
                    names=[id_col, "simhash"],
                )

        return _spread(
            docs.select(F.col(id_col), F.col(text_col)), heavy=True
        ).mapInArrow(_simhash_kernel, out_schema)

    toks = _spread(docs.select(F.col(id_col), F.col(text_col)), heavy=True).select(
        F.col(id_col), F.explode(_norm_tokens(text_col)).alias("tok")
    )
    h = F.xxhash64("tok")
    # Per-token ±1 vote per bit; bit positions are Python literals
    # so shiftright gets the int it requires.
    bit_votes = F.array(
        *[
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            for b in range(bits)
        ]
    )
    votes = toks.select(
        F.col(id_col), F.posexplode(bit_votes).alias("bit", "vote")
    )
    tallies = votes.groupBy(id_col, "bit").agg(F.sum("vote").alias("tally"))
    return tallies.groupBy(id_col).agg(
        F.sum(
            F.when(
                F.col("tally") > 0,
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("simhash")
    )


def simhash_candidate_pairs(
    docs: DataFrame,
    bands: int = 4,
    bits: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    use_md5: bool = False,
) -> DataFrame:
    """Pairs whose simhash matches on >= 1 of ``bands`` bit-blocks.

    Standard Hamming-LSH: two docs within (bands-1) bit flips always
    share a block. Block extraction via shift/mask, grouped join as in
    MinHash-LSH.
    """
    block_bits = bits // bands
    mask = (1 << block_bits) - 1
    sh = simhash(docs, bits, text_col, id_col, use_md5=use_md5)
    # One pass over the (shuffle-produced) simhash column — a unionAll
    # would recompute the whole simhash aggregation per band.
    block_arr = F.array(
        *[
            F.shiftright(F.col("simhash"), b * block_bits).bitwiseAND(F.lit(mask))
            for b in range(bands)
        ]
    )
    blocks = sh.select(
        F.col(id_col), F.posexplode(block_arr).alias("band_idx", "bucket")
    )
    a = blocks.select(F.col(id_col).alias("id_a"), "band_idx", "bucket")
    b2 = blocks.select(F.col(id_col).alias("id_b"), "band_idx", "bucket")
    return (
        a.join(b2, ["band_idx", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


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
    use_md5: bool = True,
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
    sb = minhash_signatures(batch, num_hashes, n, text_col, id_col, use_md5)
    si = minhash_signatures(index, num_hashes, n, text_col, id_col, use_md5)
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

    toks = _spread(
        docs.select(F.col(id_col), F.col(text_col)), heavy=True
    ).select(F.col(id_col), _norm_tokens(text_col).alias("__toks"))
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
    # The grouped posting-list trick (ngram_jaccard_pairs' default
    # formulation): ONE groupBy(gram) yields both the stop-gram cap
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
    # Pairs emit per prefix-gram posting list with the ordered-suffix
    # slice-explode (the lsh_candidate_pairs trick) — one groupBy(gram)
    # exchange instead of a two-sided self-join, O(list) task memory.
    grouped = pre.groupBy("gram").agg(
        F.sort_array(F.collect_list(F.struct(F.col(id_col), F.col("m")))).alias("ids")
    )
    pairs = (
        grouped.filter(F.size("ids") > 1)
        .select("ids", F.posexplode("ids").alias("__i", "a"))
        .select(
            F.col("a")[id_col].alias("id_a"),
            F.col("a")["m"].alias("ma"),
            F.explode(F.expr("slice(ids, __i + 2, size(ids))")).alias("b"),
        )
        .select(
            "id_a", "ma", F.col("b")[id_col].alias("id_b"), F.col("b")["m"].alias("mb")
        )
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
