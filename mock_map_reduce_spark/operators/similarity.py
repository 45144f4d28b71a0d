"""Vector similarity search over embedding columns (array<float>).

North-star extension surface (SURVEY §7 M3): brute-force cosine top-k
as the exact baseline, random-hyperplane LSH as the scale path, plus
threshold-pair mining (embedding near-dup detection).

Scale design (100 TB of vectors):
  * All arithmetic is JVM-side higher-order functions (F.aggregate /
    F.zip_with on doubles) — no Python in the row loop.
  * Brute force is a broadcast of the QUERY SET (small) against the
    corpus — one scan, no shuffle of the corpus, TakeOrdered bounds
    the result. Cost O(corpus x queries): right answer when queries
    are few; becomes the verification baseline otherwise.
  * LSH path: k sign-bits from random hyperplanes -> corpus grouped
    by bucket; queries probe their own bucket (+ optional multiprobe
    neighbors at Hamming distance 1). Corpus-side work drops to the
    probed buckets only. Hyperplanes are seeded-deterministic and
    shipped as literal arrays (they are nbits x dim floats — tiny).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from mock_map_reduce_spark.functions.arrowcols import fixed_dim, numeric
from mock_map_reduce_spark.functions.partitioning import spread


def as_double_array(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right fold — deterministic across engines.

    Perf note (measured, round 8): an order-identical UNROLLED
    a[0]*b[0] + a[1]*b[1] + ... codegen path was benchmarked against
    this CodegenFallback fold at dim=64 / 200k rows and came out
    SLOWER (1.55s vs 0.94s — ~5µs/eval either way; 192 bounds-checked
    GetArrayItems cost as much as the interpreted fold's boxing), so
    the fold stays. The scale lever for HOF-cosine pipelines is
    parallelism and algorithmic work (spread + bounded k), not
    expression codegen."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_label_col: str | None = None,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine, rank).

    ``queries`` must be small (it is broadcast); the corpus is scanned
    once with no shuffle — the only exchange is the per-query top-k
    window, which AQE keeps bounded because rows are pre-filtered to
    k per partition by the window's rank predicate pushdown... in
    practice use a modest query batch (<= a few thousand).
    Self-matches (same id) are excluded.

    ``exclude_label_col``: additionally drop candidates sharing the
    query's value in this column — the hard-negative-mining variant
    (nearest DIFFERENT-label neighbor); the filter rides the same
    broadcast join, costing nothing extra.
    """
    qcols = [F.col(id_col).alias(query_id_col), as_double_array(vec_col).alias("qvec")]
    ccols = [F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("cvec")]
    if exclude_label_col is not None:
        qcols.append(F.col(exclude_label_col).alias("__qlabel"))
        ccols.append(F.col(exclude_label_col).alias("__nlabel"))
    q = queries.select(*qcols)
    c = spread(corpus.select(*ccols), heavy=True)
    joined = c.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col(query_id_col)
    )
    if exclude_label_col is not None:
        joined = joined.filter(F.col("__nlabel") != F.col("__qlabel"))
    scored = joined.select(
        query_id_col,
        "neighbor_id",
        cosine(F.col("qvec"), F.col("cvec")).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def cosine_pairs_above(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine >= threshold — embedding near-dup mining.

    O(n^2/2) comparisons: exact baseline for modest corpora and the
    verification pass over LSH candidates at scale (pass a candidate
    pair DataFrame through ``score_pairs`` instead for that).
    """
    a = spread(emb.select(F.col(id_col).alias("id_a"), as_double_array(vec_col).alias("va")), heavy=True)
    b = emb.select(F.col(id_col).alias("id_b"), as_double_array(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("cosine")
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (sign-bit signatures)
# ---------------------------------------------------------------------------


def _hyperplanes(dim: int, nbits: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-Gaussian hyperplanes (Box-Muller over an LCG).

    No numpy on the executors — these are computed once on the driver
    and inlined as literals.
    """
    state = seed & 0x7FFFFFFF or 1
    planes: list[list[float]] = []

    def lcg() -> float:  # uniform (0,1)
        nonlocal state
        state = (1103515245 * state + 12345) % (1 << 31)
        return (state + 1) / float((1 << 31) + 1)

    for _ in range(nbits):
        row = []
        for _ in range(dim):
            u1, u2 = lcg(), lcg()
            row.append(math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.pi * u2))
        planes.append(row)
    return planes


def lsh_bucket(
    vec_col: Column, dim: int, nbits: int = 16, seed: int = 42
) -> Column:
    """Sign-bit bucket id (long) for a vector column."""
    planes = _hyperplanes(dim, nbits, seed)
    v = as_double_array(vec_col)
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(x) for x in plane])
        bit = F.when(dot(v, p) >= 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket + bit
    return bucket


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    nbits: int = 8,
    seed: int = 42,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: probe the query's LSH bucket (+Hamming-1 neighbors).

    Corpus is bucketed once; each query joins only its probed buckets,
    then exact cosine ranks the candidates. With b bits the corpus
    shrinks ~2^b-fold per probe; multiprobe trades (b+1)x candidates
    for much better recall.
    """
    c = spread(corpus.select(F.col(id_col), F.col(vec_col)), heavy=True).select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(vec_col).alias("cvec"),
        lsh_bucket(F.col(vec_col), dim, nbits, seed).alias("bucket"),
    )
    qb = queries.select(
        F.col(id_col).alias(query_id_col),
        as_double_array(vec_col).alias("qvec"),
        lsh_bucket(F.col(vec_col), dim, nbits, seed).alias("qbucket"),
    )
    if multiprobe:
        probes = F.array(
            F.col("qbucket"),
            *[
                F.col("qbucket").bitwiseXOR(F.lit(1 << i).cast("long"))
                for i in range(nbits)
            ],
        )
    else:
        probes = F.array(F.col("qbucket"))
    q = qb.select(
        query_id_col, "qvec", F.explode(probes).alias("bucket")
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "neighbor_id",
            cosine(F.col("qvec"), F.col("cvec")).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse-quantizer cells + in-cell exact search
# ---------------------------------------------------------------------------


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """(id, cell, vec) — each vector assigned to its nearest centroid
    by cosine (argmax; ties break to the smallest centroid id).

    Centroids are few (they are broadcast), so assignment is a
    map-side crossJoin + one per-vector window — the shuffle carries
    (id, cell, vec) once. At 100 TB this is the IVF build pass; pair
    it with cell-partitioned storage (tests/test_ivf_storage.py) so
    probes become partition-pruned scans.
    """
    # Round-10 shape: the centroid set is bounded by contract (it was
    # already broadcast), so assignment is the shared map-only Arrow
    # argmax kernel (operators/clustering._assign_arrow) instead of a
    # crossJoin × row_number window — no Exchange, no per-candidate
    # interpreted HOF cosine, bit-identical values and tie order.
    from mock_map_reduce_spark.operators.clustering import (  # deferred: circular
        _assign_arrow,
        _collect_cents,
    )

    rows = _collect_cents(
        centroids.select(
            F.col(id_col).alias("cid"), as_double_array(vec_col).alias("ce")
        )
    )
    v = spread(
        vectors.select(F.col(id_col), as_double_array(vec_col).alias("vec")), heavy=True
    ).select(F.col(id_col).alias("vec_id"), F.col("vec").alias("e"))
    return _assign_arrow(v, rows, with_cos=False).select(
        F.col("vec_id").alias(id_col), "cell", F.col("e").alias("vec")
    )


def ann_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF ANN (nprobe=1): exact cosine top-k within the query's cell.

    Both sides go through the same coarse quantizer; the probe join is
    on the cell id, so per-query work is corpus/n_cells instead of
    corpus. Deterministic end-to-end (fold arithmetic + id
    tie-breaks), hence oracle-checkable — unlike random-hyperplane
    LSH, whose hyperplanes have no SQL twin.
    """
    c = ivf_assign(corpus, centroids, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "cell", F.col("vec").alias("cvec")
    )
    q = ivf_assign(queries, centroids, id_col, vec_col).select(
        F.col(id_col).alias(query_id_col), "cell", F.col("vec").alias("qvec")
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "neighbor_id",
            cosine(F.col("qvec"), F.col("cvec")).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def embedding_near_dup_lsh(
    emb: DataFrame,
    threshold: float,
    dim: int,
    nbits: int = 8,
    seed: int = 42,
    max_bucket_size: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs at scale: (id_a, id_b, cosine >= threshold).

    The scale path for what ``cosine_pairs_above`` does exactly:
    candidates arise only inside shared hyperplane-LSH buckets
    (corpus/2^nbits per bucket in expectation) and exact cosine then
    verifies each candidate — the same bucket→pairs→verify shape as
    MinHash-LSH text dedup, so comparisons drop from O(n^2) to
    O(sum bucket^2). Recall covers pairs whose sign bits agree;
    near-identical vectors (the dedup regime) almost always do — use
    fewer bits or multiprobe for looser thresholds.
    """
    tagged = spread(emb.select(F.col(id_col), F.col(vec_col)), heavy=True).select(
        F.col(id_col),
        as_double_array(vec_col).alias("vec"),
        lsh_bucket(F.col(vec_col), dim, nbits, seed).alias("bucket"),
    )
    grouped = tagged.groupBy("bucket").agg(
        F.sort_array(F.collect_list(F.struct(id_col, "vec"))).alias("members")
    )
    grouped = grouped.filter(F.size("members") > 1)
    if max_bucket_size is not None:
        grouped = grouped.filter(F.size("members") <= max_bucket_size)
    pairs = (
        grouped.select("members", F.posexplode("members").alias("__i", "a"))
        .select(
            F.col("a").getField(id_col).alias("id_a"),
            F.col("a").getField("vec").alias("va"),
            F.explode(F.expr("slice(members, __i + 2, size(members))")).alias("b"),
        )
        .select(
            "id_a",
            F.col("b").getField(id_col).alias("id_b"),
            cosine(F.col("va"), F.col("b").getField("vec")).alias("cosine"),
        )
        # a pair can collide in multiple... no: one bucket per vector
        # at nprobe=1, so pairs are already unique
        .filter(F.col("cosine") >= threshold)
    )
    return pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def quantize_int8_stats(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization audit:
    (id, scale, q_l1, recon_mse).

    scale = 127 / max|v|; codes q_i = floor(v_i * scale + 0.5) — the
    explicit floor(+0.5) sidesteps engine round-half rules, so codes
    are bit-identical everywhere. q_l1 (integer sum of |codes|) pins
    the codes exactly; recon_mse is the sequential-fold dequantization
    error. This is the storage-shrink audit for embedding tables:
    4 bytes -> 1 byte per dim ahead of ANN serving.
    """
    e = as_double_array(vec_col)
    amax = F.aggregate(
        F.transform(e, lambda x: F.abs(x)), F.lit(0.0), lambda a, x: F.greatest(a, x)
    )
    base = emb.select(
        F.col(id_col), e.alias("e"), (F.lit(127.0) / amax).alias("scale")
    ).filter(F.col("scale").isNotNull())
    q = F.transform(F.col("e"), lambda x: F.floor(x * F.col("scale") + F.lit(0.5)))
    base = base.withColumn("q", q)
    q_l1 = F.aggregate(
        F.transform(F.col("q"), lambda x: F.abs(x)),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    # Materialize the error vector as a REAL column before folding:
    # referencing an inline zip_with from the fold lambda re-evaluates
    # it per reference, and the re-derived expression does not take the
    # same float path (measured: differs from the plain a + x*x fold in
    # the 8th significant digit — enough to break cross-engine
    # bit-parity). A bound column makes the arithmetic exactly what it
    # reads as, in both engines.
    base = base.withColumn(
        "err",
        F.zip_with(
            F.col("e"), F.col("q"), lambda x, y: x - y.cast("double") / F.col("scale")
        ),
    )
    mse = F.aggregate(F.col("err"), F.lit(0.0), lambda a, x: a + x * x) / F.size("e")
    return base.select(
        F.col(id_col),
        F.round("scale", 6).alias("scale"),
        q_l1.alias("q_l1"),
        mse.alias("recon_mse"),
    )


def sqdist(a: Column, b: Column) -> Column:
    """Squared L2 distance as a sequential left-to-right fold —
    deterministic and bit-identical to the DuckDB list_reduce twin."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_codes(
    vectors: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization audit: (id, subspace, code, sqdist).

    Each vector splits into ``m`` contiguous subvectors; subspace
    codebooks are the matching subvectors of the ``k`` seed vectors
    (id < k — deterministic, like the IVF coarse quantizer), and every
    subvector is assigned its argmin-L2 codeword (ties to the smallest
    code id). A 64-dim float vector compresses to m log2(k)-bit codes
    — 256 bytes -> 12 bits at (m=4, k=8).

    100 TB shape: the codebook is k*m tiny rows broadcast everywhere;
    vectors explode into m subvector rows map-side, score against the
    broadcast codebook riding the scan, and one per-(vector, subspace)
    window picks the argmin. The corpus shuffles once, already reduced
    to (id, subspace) granularity. A trained (k-means) codebook drops
    in by swapping the seed-vector source; assignment is unchanged.
    """
    if dim % m:
        raise ValueError("dim must divide evenly into m subspaces")
    sub = dim // m
    v = spread(vectors.select(F.col(id_col), as_double_array(vec_col).alias("e")), heavy=True)
    # Round-10: per-subspace argmin is the same map-only Arrow kernel
    # shape as the k-means assignment (operators/clustering
    # _assign_arrow) — the previous posexplode (m× rows) × broadcast
    # codebook join × row_number window shuffled corpus×m rows and
    # evaluated every sqdist through the interpreted HOF fold. The
    # NumPy kernel runs the identical IEEE sequence (dim-order
    # (x-y)*(x-y) accumulation per subspace), argmin ties to the FIRST
    # (= lowest code id, codebook rows code-ascending) exactly like
    # (d ASC, code_id ASC). Codebook = the id<k seed rows (bounded,
    # k×dim driver rows — collected once, the same contract the
    # broadcast already implied).
    cb_rows = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in v.filter(F.col(id_col) < k).select(id_col, "e").collect()
    )
    if not cb_rows:
        # Empty codebook (no rows with id < k): the old broadcast-join
        # formulation returned an empty frame; np.argmin over a
        # zero-width array would instead raise on executors — mirror
        # _assign_arrow's empty-centroid guard (round-10 ADVICE). Both
        # branches cast the id to bigint, so they return one schema
        # whatever the source id type.
        return (
            v.select(
                F.col(id_col).cast("bigint").alias(id_col),
                F.lit(None).cast("int").alias("subspace"),
                F.lit(None).cast("bigint").alias("code"),
                F.lit(None).cast("double").alias("sqdist"),
            )
            .filter(F.lit(False))
        )

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        C = np.asarray([ce for _, ce in cb_rows], dtype=np.float64)  # k × dim
        code_ids = np.asarray([c for c, _ in cb_rows], dtype=np.int64)
        for tbl in batches:
            n = tbl.num_rows
            if n == 0:
                continue
            # raises on ragged/null rows instead of silently mis-coding
            # every later vector
            E = fixed_dim(tbl.column(tbl.schema.get_field_index("e")), "pq_codes", dim=dim)
            idc = tbl.column(tbl.schema.get_field_index(id_col))
            out_code, out_d = [], []
            for s in range(m):
                dists = np.zeros((n, C.shape[0]))
                for i in range(s * sub, (s + 1) * sub):
                    diff = E[:, i, None] - C[None, :, i]
                    dists = dists + diff * diff
                best = np.argmin(dists, axis=1)
                out_code.append(code_ids[best])
                out_d.append(dists[np.arange(n), best])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.concat_arrays([idc] * m),
                    numeric(np.repeat(np.arange(m), n), pa.int32()),
                    numeric(np.concatenate(out_code), pa.int64()),
                    numeric(np.concatenate(out_d), pa.float64()),
                ],
                names=[id_col, "subspace", "code", "d"],
            )

    coded = v.select(F.col(id_col).cast("bigint").alias(id_col), "e").mapInArrow(
        fn, f"{id_col} bigint, subspace int, code bigint, d double"
    )
    return coded.select(
        F.col(id_col),
        F.col("subspace"),
        F.col("code"),
        F.round("d", 6).alias("sqdist"),
    )


def ann_topk_pq_adc(
    vectors: DataFrame,
    dim: int,
    n_queries: int,
    m: int = 4,
    k: int = 8,
    top_k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ search by asymmetric distance computation:
    (query_id, neighbor_id, adist, rank).

    The query stays exact; the corpus is represented only by its PQ
    codes. Per query, a lookup table of sqdist(query subvector,
    codeword) — n_queries * m * k tiny rows — broadcasts, and every
    coded vector's approximate distance is the sum of m LUT hits.
    This is why PQ scales: after the one-time coding pass, search
    touches codes (bits) + a broadcast LUT, never the float corpus.

    Determinism: the m per-subspace terms are summed in FIXED subspace
    order via conditional one-hot sums (a bare SUM over a float group
    is partition-order-dependent at the last ulp), so adist is
    bit-identical to the oracle.
    """
    sub = dim // m
    codes = pq_codes(vectors, dim, m, k, id_col, vec_col).select(
        id_col, "subspace", "code"
    )
    v = spread(vectors.select(F.col(id_col), as_double_array(vec_col).alias("e")), heavy=True)
    slices = F.array(*[F.slice(F.col("e"), s * sub + 1, sub) for s in range(m)])
    cb = (
        v.filter(F.col(id_col) < k)
        .select(F.col(id_col).alias("code_id"), F.posexplode(slices).alias("subspace", "cv"))
    )
    q_subs = (
        v.filter(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("query_id"), F.posexplode(slices).alias("subspace", "qv"))
    )
    lut = q_subs.join(F.broadcast(cb), "subspace").select(
        "query_id", "subspace", "code_id", sqdist(F.col("qv"), F.col("cv")).alias("d")
    )
    hits = codes.join(
        F.broadcast(lut),
        (codes.subspace == lut.subspace) & (codes.code == lut.code_id),
    ).select(F.col(id_col), "query_id", codes.subspace.alias("s"), "d")
    return _adc_rank(hits, m, top_k, id_col)


def _adc_rank(hits: DataFrame, m: int, top_k: int, id_col: str) -> DataFrame:
    """Shared ADC tail: fixed-subspace-order one-hot sums (bit-
    deterministic — a bare SUM over a float group is partition-order-
    dependent at the last ulp) + per-query bounded ranking."""
    per_sub = [
        F.sum(F.when(F.col("s") == s, F.col("d"))).alias(f"d{s}") for s in range(m)
    ]
    agg = hits.groupBy("query_id", id_col).agg(*per_sub)
    adist = F.col("d0")
    for s in range(1, m):
        adist = adist + F.col(f"d{s}")
    scored = agg.filter(F.col(id_col) != F.col("query_id")).select(
        "query_id", F.col(id_col).alias("neighbor_id"), adist.alias("adist")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", F.round("adist", 6).alias("adist"), "rank")
    )


def ivf_assign_multi(
    vectors: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """(id, cell, probe_rank, vec) — each vector's ``nprobe`` nearest
    centroids by cosine (rank 1 = the ivf_assign cell). The query-side
    half of multi-probe IVF: probing more cells trades scan cost for
    recall — the standard knob when nprobe=1 recall is too low."""
    c = centroids.select(
        F.col(id_col).alias(centroid_id_col), as_double_array(vec_col).alias("cent")
    )
    v = spread(vectors.select(F.col(id_col), as_double_array(vec_col).alias("vec")), heavy=True)
    scored = v.crossJoin(F.broadcast(c)).select(
        id_col,
        "vec",
        centroid_id_col,
        cosine(F.col("vec"), F.col("cent")).alias("__cos"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("__cos"), F.asc(centroid_id_col))
    return (
        scored.withColumn("probe_rank", F.row_number().over(w))
        .filter(F.col("probe_rank") <= nprobe)
        .select(
            F.col(id_col), F.col(centroid_id_col).alias("cell"), "probe_rank", "vec"
        )
    )


def ann_topk_ivf_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Multi-probe IVF ANN: exact cosine top-k over the UNION of the
    query's ``nprobe`` nearest cells. Per-query scan cost is
    nprobe x corpus/n_cells; recall dominates nprobe=1 because
    near-boundary neighbors in the runner-up cell come back into
    range. Deterministic end to end, hence oracle-checkable."""
    c = ivf_assign(corpus, centroids, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "cell", F.col("vec").alias("cvec")
    )
    q = ivf_assign_multi(queries, centroids, nprobe, id_col, vec_col).select(
        F.col(id_col).alias(query_id_col), "cell", F.col("vec").alias("qvec")
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "neighbor_id",
            cosine(F.col("qvec"), F.col("cvec")).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def ann_topk_ivf_pq(
    vectors: DataFrame,
    centroids: DataFrame,
    dim: int,
    n_queries: int,
    m: int = 4,
    k: int = 8,
    top_k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ search — the canonical billion-scale ANN index layout:
    coarse IVF cells prune the candidate set, PQ-ADC scores only the
    survivors. The inverted lists store CODES (plus the cell id from
    the build pass); search is a per-query LUT broadcast against the
    query's cell's codes — nprobe=1 here, matching ann_topk_ivf.

    100 TB shape: per query the scan cost is |cell| code rows
    (corpus/n_cells), each 12 bits at (m=4, k=8), and with the cells
    as partition keys at rest (tests/test_ivf_storage.py) the probe is
    a partition-pruned scan of a code table — the float corpus is
    touched only by the one-time build passes.
    """
    cells = ivf_assign(vectors, centroids, id_col, vec_col).select(
        F.col(id_col), "cell"
    )
    codes = pq_codes(vectors, dim, m, k, id_col, vec_col).select(
        id_col, "subspace", "code"
    )
    coded = codes.join(cells, id_col)
    sub = dim // m
    v = spread(vectors.select(F.col(id_col), as_double_array(vec_col).alias("e")), heavy=True)
    slices = F.array(*[F.slice(F.col("e"), s * sub + 1, sub) for s in range(m)])
    cb = (
        v.filter(F.col(id_col) < k)
        .select(F.col(id_col).alias("code_id"), F.posexplode(slices).alias("subspace", "cv"))
    )
    q_subs = (
        v.filter(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("query_id"), F.posexplode(slices).alias("subspace", "qv"))
    )
    qcells = cells.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col("cell").alias("qcell")
    )
    lut = (
        q_subs.join(F.broadcast(cb), "subspace")
        .join(F.broadcast(qcells), "query_id")
        .select(
            "query_id", "qcell", "subspace", "code_id",
            sqdist(F.col("qv"), F.col("cv")).alias("d"),
        )
    )
    hits = coded.join(
        F.broadcast(lut),
        (coded.subspace == lut.subspace)
        & (coded.code == lut.code_id)
        & (coded.cell == lut.qcell),
    ).select(F.col(id_col), "query_id", coded.subspace.alias("s"), "d")
    return _adc_rank(hits, m, top_k, id_col)
