"""k-means tests: planted clusters, determinism, convergence shape."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from mock_map_reduce_spark.operators import clustering as cl


@pytest.fixture(scope="module")
def planted(spark):
    # Two tight clusters near orthogonal axes + seed vectors 0/1 in them.
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.05, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.0, 0.05, 1.0, 0.0]),
        Row(vec_id=2, embedding=[0.9, 0.0, 0.1, 0.0]),
        Row(vec_id=3, embedding=[1.0, 0.1, 0.0, 0.1]),
        Row(vec_id=4, embedding=[0.1, 0.0, 0.9, 0.0]),
        Row(vec_id=5, embedding=[0.0, 0.1, 1.0, 0.1]),
    ]
    return spark.createDataFrame(rows)


def test_kmeans_planted_clusters(planted):
    out = {r.vec_id: r.cell for r in cl.kmeans_lloyd(planted, k=2, n_iter=2).collect()}
    assert out[0] == out[2] == out[3]  # x-axis cluster
    assert out[1] == out[4] == out[5]  # z-axis cluster
    assert out[0] != out[1]


def test_kmeans_deterministic_rerun(planted):
    a = sorted(tuple(r) for r in cl.kmeans_lloyd(planted, k=2, n_iter=2).collect())
    b = sorted(tuple(r) for r in cl.kmeans_lloyd(planted, k=2, n_iter=2).collect())
    assert a == b


def test_kmeans_zero_iter_is_seed_assignment(planted):
    # n_iter=0: assignment against the raw seed vectors; seeds match themselves
    out = {r.vec_id: r for r in cl.kmeans_lloyd(planted, k=2, n_iter=0).collect()}
    assert out[0].cell == 0 and out[1].cell == 1
    assert out[0].cosine == 1.0 and out[1].cosine == 1.0


def test_kcenter_init_picks_spread_seeds(planted):
    # pool_prefix_lt='g' keeps every hex prefix -> pool = all vectors.
    cents = cl.kcenter_init(planted, k=2, pool_prefix_lt="g").collect()
    ids = sorted(r.cid for r in cents)
    # First seed = lowest id (0, x-cluster); farthest-point second seed
    # must come from the z-cluster -- v1 has the lowest max-cosine to v0.
    assert ids == [0, 1]


def test_kcenter_seeded_lloyd_separates_planted(planted):
    cents = cl.kcenter_init(planted, k=2, pool_prefix_lt="g")
    out = {
        r.vec_id: r.cell
        for r in cl.kmeans_lloyd(planted, k=2, n_iter=1, init=cents).collect()
    }
    assert out[0] == out[2] == out[3]
    assert out[1] == out[4] == out[5]
    assert out[0] != out[1]


def test_kcenter_deterministic_rerun(planted):
    a = sorted(tuple(r) for r in cl.kcenter_init(planted, k=3, pool_prefix_lt="g").collect())
    b = sorted(tuple(r) for r in cl.kcenter_init(planted, k=3, pool_prefix_lt="g").collect())
    assert a == b


def test_power_iteration_pc1_recovers_planted_direction(spark):
    """On a corpus WITH a dominant direction (strong rank-1 signal +
    small deterministic noise), 6 power steps must align with it:
    |cos(pc1, u)| > 0.99. The near-isotropic testdata exercises
    bit-determinism via the oracle; this pins that the operator finds
    real structure when structure exists."""
    import math

    from pyspark.sql import Row

    from mock_map_reduce_spark.operators.clustering import power_iteration_pc1

    d = 16
    u = [math.sin(1.0 + 0.37 * j) for j in range(d)]  # fixed direction
    un = math.sqrt(sum(x * x for x in u))
    u = [x / un for x in u]
    rows = []
    for i in range(200):
        scale = ((i * 37) % 17) - 8  # deterministic, mean ~0, |.| up to 8
        noise = [0.05 * math.cos(0.91 * i + 1.7 * j) for j in range(d)]
        rows.append(Row(vec_id=i, embedding=[scale * uj + nj for uj, nj in zip(u, noise)]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [r.pc1 for r in power_iteration_pc1(vecs, n_iter=6).orderBy("dim_idx").collect()]
    cos = abs(sum(a * b for a, b in zip(got, u)))
    assert cos > 0.99, cos


def test_hinge_trainer_converges_on_separable_data(spark):
    """On linearly separable data the margin-perceptron update must
    reach 100% train accuracy; weights are pinned against an
    independent pure-Python replay of the same integer recurrence."""
    from pyspark.sql import Row

    from mock_map_reduce_spark.operators.clustering import train_hinge_classifier

    data = [(1, [1, v]) for v in range(5, 15)] + [(-1, [1, v]) for v in range(-14, -4)]
    rows = [Row(y=y, x0=x[0], x1=x[1]) for y, x in data]
    out = {
        r.name: r.value
        for r in train_hinge_classifier(
            spark.createDataFrame(rows), n_features=2, n_steps=6
        ).collect()
    }
    gw = [0, 0]
    for _ in range(6):
        g = [0, 0]
        for y, x in data:
            if y * (gw[0] * x[0] + gw[1] * x[1]) < 1024:
                g[0] += y * x[0]
                g[1] += y * x[1]
        gw = [a + b for a, b in zip(gw, g)]
    assert (out["w_0"], out["w_1"]) == tuple(gw)
    assert out["__n_correct"] == out["__n_train"] == 20


def test_hinge_classifier_query_beats_base_rate(spark, sf_dir):
    """The catalog training task must actually LEARN: train accuracy
    well above the majority-class base rate (the is-English target it
    replaces trains exactly TO base rate on this synthetic corpus)."""
    from mock_map_reduce_spark import registry

    registry.load_all()
    out = {
        r.name: r.value
        for r in registry.QUERIES["ml_train_hinge_classifier"](spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pos = docs.filter("n_chars >= 300").count()
    n = out["__n_train"]
    base = max(pos, n - pos) / n
    acc = out["__n_correct"] / n
    assert acc >= base + 0.15, (acc, base)


def test_semdedup_prunes_planted_duplicates(planted):
    """Within each planted cluster the lowest id survives; all
    near-identical higher ids are pruned at a high threshold."""
    out = {r.vec_id: r for r in cl.semdedup(planted, 0.95, k=2, n_iter=2).collect()}
    assert {i: out[i].kept for i in range(6)} == {0: 1, 1: 1, 2: 0, 3: 0, 4: 0, 5: 0}
    assert out[0].cell != out[1].cell  # pruning stayed within-cluster
    assert out[2].cell == out[0].cell and out[4].cell == out[1].cell


def test_semdedup_cluster_cap_bounds_pruning(planted):
    # cap=1: no within-cluster pairs exist, so nothing can be pruned
    out = {r.vec_id: r.kept for r in
           cl.semdedup(planted, 0.95, k=2, n_iter=2, max_cluster_size=1).collect()}
    assert out == {i: 1 for i in range(6)}
    # cap=2: only the two lowest ids per cluster participate — member 3
    # (x-cluster overflow) and 5 (z-cluster overflow) are kept unexamined
    out2 = {r.vec_id: r.kept for r in
            cl.semdedup(planted, 0.95, k=2, n_iter=2, max_cluster_size=2).collect()}
    assert out2 == {0: 1, 1: 1, 2: 0, 3: 1, 4: 0, 5: 1}


def test_semdedup_overflow_is_reported_not_silent(planted):
    """Capped-cluster overflow members are COUNTED AND REPORTED via
    the examined column (kept=1 but examined=0), never silently mixed
    in with genuinely-examined survivors — the recall audit the 100 TB
    cap story depends on."""
    rows = cl.semdedup(planted, 0.95, k=2, n_iter=2, max_cluster_size=2).collect()
    examined = {r.vec_id: r.examined for r in rows}
    # 2 clusters, 2 examined each; members 3 and 5 overflow their caps
    assert examined == {0: 1, 1: 1, 2: 1, 3: 0, 4: 1, 5: 0}
    # every overflow member is kept (unexamined ≠ pruned) ...
    assert all(r.kept == 1 for r in rows if r.examined == 0)
    # ... and the audit arithmetic closes: examined + overflow = corpus
    assert sum(examined.values()) + 2 == len(rows)
    # uncapped: everything examined
    rows_uncapped = cl.semdedup(planted, 0.95, k=2, n_iter=2).collect()
    assert all(r.examined == 1 for r in rows_uncapped)


def test_semdedup_threshold_one_keeps_everything(planted):
    # planted vectors are near- but not exactly-identical: cos < 1.0
    out = {r.vec_id: r.kept for r in cl.semdedup(planted, 1.0, k=2, n_iter=2).collect()}
    assert out == {i: 1 for i in range(6)}


def test_semantic_contamination_flags_planted_leak(spark, tmp_path):
    """A corpus vector nearly parallel to a benchmark vector is
    quarantined with that vector as its nearest neighbor; an
    orthogonal one is not. Runs the catalog query end-to-end on a
    synthetic embeddings table written to parquet."""
    from mock_map_reduce_spark.catalog.semdedup import (
        SC_BENCH_MAX_ID,
        q_dedup_semantic_contamination,
    )

    dim = 8
    bench_vec = [1.0] + [0.0] * (dim - 1)
    leak = [0.99] + [0.141] + [0.0] * (dim - 2)  # cos ~ 0.990 to bench 0
    clean = [0.0, 0.0, 1.0] + [0.0] * (dim - 3)  # orthogonal
    rows = [(0, bench_vec, 0), (SC_BENCH_MAX_ID + 1, leak, 0), (SC_BENCH_MAX_ID + 2, clean, 0)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    out = {r.vec_id: r for r in q_dedup_semantic_contamination(spark, str(tmp_path)).collect()}
    assert set(out) == {SC_BENCH_MAX_ID + 1}
    assert out[SC_BENCH_MAX_ID + 1].nearest_bench_id == 0
    assert out[SC_BENCH_MAX_ID + 1].cosine > 0.95


def test_arrow_kernels_raise_on_ragged_or_null_embeddings(spark):
    """Round-11 hardening: the dense-reshape Arrow kernels must FAIL
    LOUDLY on ragged or null embedding lists instead of silently
    computing wrong cosines/codes (round-10 VERDICT item 6)."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.sql import Row

    ragged = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0, 0.0, 0.0]),
            Row(vec_id=1, embedding=[0.0, 1.0, 0.0, 0.0]),
            Row(vec_id=2, embedding=[0.0, 1.0]),  # wrong dim, not a seed
        ]
    )
    with pytest.raises(Exception) as ei:
        cl.kmeans_lloyd(ragged, k=2, n_iter=1).collect()
    assert "ragged or null" in str(ei.value)

    nulled = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0, 0.0, 0.0]),
            Row(vec_id=1, embedding=[0.0, 1.0, 0.0, 0.0]),
            Row(vec_id=2, embedding=None),  # null row, not a seed
        ],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception) as ei:
        cl.semdedup(nulled, threshold=0.9, k=2, n_iter=1).collect()
    assert "ragged or null" in str(ei.value)

    from mock_map_reduce_spark.operators.similarity import pq_codes

    ragged8 = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0] * 8),
            Row(vec_id=1, embedding=[0.0] * 8),
            Row(vec_id=2, embedding=[0.5] * 6),  # wrong dim, not a codeword
        ]
    )
    with pytest.raises(Exception) as ei:
        pq_codes(ragged8, dim=8, m=4, k=2).collect()
    assert "ragged or null" in str(ei.value)


def test_pq_codes_empty_codebook_returns_empty(spark):
    """Round-10 ADVICE: an empty codebook (no rows with id < k) must
    return an empty frame with the declared schema, like the pre-r10
    broadcast-join formulation — not raise np.argmin on a 0-width
    array."""
    from pyspark.sql import Row

    from mock_map_reduce_spark.operators.similarity import pq_codes

    v = spark.createDataFrame(
        [Row(vec_id=100, embedding=[1.0] * 8), Row(vec_id=101, embedding=[0.5] * 8)]
    )
    out = pq_codes(v, dim=8, m=4, k=2)  # no vec_id < 2 exists
    assert out.columns == ["vec_id", "subspace", "code", "sqdist"]
    assert out.count() == 0

    # An int id comes back as the kernel path's declared bigint from
    # both branches, so the empty result has the non-empty schema.
    schema = "vec_id int, embedding array<double>"
    empty = pq_codes(
        spark.createDataFrame([(100, [1.0] * 8), (101, [0.5] * 8)], schema),
        dim=8, m=4, k=2,
    )
    full = pq_codes(
        spark.createDataFrame([(0, [1.0] * 8), (1, [0.5] * 8), (5, [0.9] * 8)], schema),
        dim=8, m=4, k=2,
    )
    assert empty.schema == full.schema
    assert empty.schema["vec_id"].dataType.simpleString() == "bigint"
    assert empty.count() == 0
    assert full.count() == 3 * 4
