"""FFT/MRFFT: kernel correctness, determinism, k-center guarantees."""

from __future__ import annotations

import numpy as np
import pytest

from big_data_computing__spark.operators import clustering as C
from big_data_computing__spark.sources.readers import embedding_points


def test_sequential_fft_spread():
    # 4 well-separated clusters in 2-D: FFT(4) must pick one per cluster
    rng = np.random.default_rng(0)
    blobs = [
        rng.normal(loc, 0.1, size=(20, 2))
        for loc in [(0, 0), (10, 0), (0, 10), (10, 10)]
    ]
    pts = np.vstack(blobs)
    centers = C.sequential_fft(pts, 4, seed=7)
    got = {(round(c[0] / 10), round(c[1] / 10)) for c in centers}
    assert got == {(0, 0), (1, 0), (0, 1), (1, 1)}


def test_sequential_fft_deterministic():
    pts = np.random.default_rng(1).normal(size=(50, 3))
    a = C.sequential_fft(pts, 5, seed=3)
    b = C.sequential_fft(pts, 5, seed=3)
    assert np.array_equal(a, b)


def test_sequential_fft_k_exceeds_n():
    pts = np.random.default_rng(1).normal(size=(3, 2))
    assert len(C.sequential_fft(pts, 10, seed=0)) == 3


def test_mrfft_radius_covers_all_points(spark, sf_dir):
    pts = embedding_points(spark, sf_dir).cache()
    res = C.mr_fft(pts, k=8, l=4, seed=42)
    assert res.coreset_size <= 8 * 4
    # radius is the k-center objective: every point within radius of a center
    from pyspark.sql import functions as F

    over = (
        C.min_dist_to_centers(pts, res.centers)
        .where(F.col("min_dist") > res.radius + 1e-9)
        .count()
    )
    assert over == 0
    assert res.radius > 0
    assert set(res.timings_ms) == {"r1_coreset", "r2_centers", "r3_radius"}


def test_mrfft_deterministic_across_runs(spark, sf_dir):
    pts = embedding_points(spark, sf_dir)
    r1 = C.mr_fft(pts, k=4, l=2, seed=9)
    r2 = C.mr_fft(pts, k=4, l=2, seed=9)
    assert r1.radius == r2.radius
    assert np.array_equal(r1.centers, r2.centers)


@pytest.mark.parametrize("fast", [False, True])
def test_mr_fft_centers_are_mr_fft_centers(spark, sf_dir, fast):
    pts = embedding_points(spark, sf_dir)
    got = C.mr_fft_centers(pts, k=4, l=2, seed=9, fast=fast)
    assert np.array_equal(got, C.mr_fft(pts, k=4, l=2, seed=9, fast=fast).centers)


def test_catalyst_min_dist_matches_pandas(spark, sf_dir):
    pts = embedding_points(spark, sf_dir).limit(50).cache()
    centers = np.array(
        [r["features"] for r in pts.limit(3).collect()], dtype=np.float64
    )
    from pyspark.sql import functions as F

    expr_rows = pts.select(
        "id",
        C.min_dist_to_centers_expr(
            F.col("features"), centers.tolist()
        ).alias("d"),
    ).collect()
    udf_rows = C.min_dist_to_centers(pts, centers).select(
        "id", "min_dist"
    ).collect()
    e = {r["id"]: r["d"] for r in expr_rows}
    u = {r["id"]: r["min_dist"] for r in udf_rows}
    # 1e-6, not 1e-9: the vectorized kernel uses the (x²+c²−2xc) matmul
    # identity, whose cancellation error near d=0 is ~sqrt(eps·‖x‖²)≈1e-8
    # (same trade FAISS makes); exact zeros occur here because the centers
    # are drawn from the points themselves.
    for k in e:
        assert abs(e[k] - u[k]) < 1e-6


def test_assign_clusters_partitions_all_points(spark, sf_dir):
    pts = embedding_points(spark, sf_dir)
    res = C.mr_fft(pts, k=4, l=2, seed=1)
    assigned = C.assign_clusters(pts, res.centers)
    assert assigned.count() == pts.count()
    n_clusters = assigned.select("cluster").distinct().count()
    assert 1 <= n_clusters <= 4


# ---------------------------------------------------------------------------
# integer-exact Lloyd's k-means
# ---------------------------------------------------------------------------


def _ref_kmeans(vecs, k, rounds, scale=1_000_000):
    """Sequential reference of the same integer-exact iteration."""
    import math

    def tdiv(s, n):
        q = abs(s) // n
        return q if s >= 0 else -q

    pts = [
        (i, [math.floor(scale * float(x)) for x in v])
        for i, v in sorted(vecs.items())
    ]
    centers = [list(e) for _, e in pts[:k]]

    def assign(e):
        best = None
        for c, q in enumerate(centers):
            d2 = sum((a - b) * (a - b) for a, b in zip(e, q))
            if best is None or (d2, c) < best:
                best = (d2, c)
        return best

    for _ in range(rounds):
        groups = {}
        for _i, e in pts:
            _d2, c = assign(e)
            groups.setdefault(c, []).append(e)
        for c, members in groups.items():
            n = len(members)
            centers[c] = [
                tdiv(sum(col), n) for col in zip(*members)
            ]
    out = {}
    for _i, e in pts:
        d2, c = assign(e)
        n, s = out.get(c, (0, 0))
        out[c] = (n + 1, s + d2)
    return out


def test_kmeans_matches_sequential_reference(spark):
    from big_data_computing__spark.operators.clustering import (
        kmeans_lloyd,
    )

    import random

    rng = random.Random(7)
    vecs = {
        i: [rng.uniform(-0.5, 0.5) for _ in range(6)] for i in range(60)
    }
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    # NB: the reference floors the PYTHON float; Spark floors the
    # float->double cast of the stored FLOAT. Build the fixture from
    # the float32-rounded values so both quantize identical doubles.
    import numpy as np

    vecs32 = {
        i: [float(np.float32(x)) for x in v] for i, v in vecs.items()
    }
    got = {
        r["cluster"]: (r["n_members"], r["inertia"])
        for r in kmeans_lloyd(emb, k=4, rounds=3).collect()
    }
    assert got == _ref_kmeans(vecs32, 4, 3)


def test_kmeans_inertia_decreases_with_rounds(spark, sf_dir):
    from big_data_computing__spark.operators.clustering import (
        kmeans_lloyd,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    inertias = []
    for rounds in (0, 2, 4):
        rows = kmeans_lloyd(emb, k=8, rounds=rounds).collect()
        inertias.append(sum(r["inertia"] for r in rows))
        assert sum(r["n_members"] for r in rows) == emb.count()
    assert inertias[0] > inertias[1] >= inertias[2]


def test_kmeans_duplicate_points_and_small_k(spark):
    from big_data_computing__spark.operators.clustering import (
        kmeans_lloyd,
    )

    # 2 distinct locations, k=2: converges to exact split; inertia
    # reflects only quantization (identical members -> d2 = 0)
    rows = [(i, [0.1, 0.1]) for i in range(5)] + [
        (i, [-0.4, -0.4]) for i in range(5, 9)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    got = sorted(
        (r["n_members"], r["inertia"])
        for r in kmeans_lloyd(emb, k=2, rounds=2).collect()
    )
    assert got == [(4, 0), (5, 0)]


def test_kmeans_balanced_sample_quota_and_order(spark):
    """Per-cluster quota: with m=1 each non-empty cluster contributes
    exactly its (d2, vec_id)-minimal member; with m large the sample
    is the full assignment."""
    from big_data_computing__spark.operators.clustering import (
        kmeans_balanced_sample,
    )

    rows = [
        (i, [float(i % 4), float((i * 7) % 5), float(i) / 10.0], 0)
        for i in range(40)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    full = kmeans_balanced_sample(emb, k=4, rounds=2, m=1000).collect()
    assert len(full) == 40  # quota never drops rows when m >= cluster
    by_cluster: dict[int, list] = {}
    for r in full:
        by_cluster.setdefault(r["cluster"], []).append(
            (r["d2"], r["vec_id"])
        )
    one = kmeans_balanced_sample(emb, k=4, rounds=2, m=1).collect()
    assert len(one) == len(by_cluster)
    for r in one:
        assert (r["d2"], r["vec_id"]) == min(by_cluster[r["cluster"]])


def test_kmeans_balanced_sample_same_model_as_lloyd(spark):
    """The sample's cluster populations must tally with kmeans_lloyd's
    n_members — both surface the SAME trained model."""
    from big_data_computing__spark.operators.clustering import (
        kmeans_balanced_sample,
        kmeans_lloyd,
    )

    rows = [
        (i, [float((i * 3) % 7), float(i % 5)], 0) for i in range(30)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    sizes = {
        r["cluster"]: r["n_members"]
        for r in kmeans_lloyd(emb, k=3, rounds=2).collect()
    }
    got: dict[int, int] = {}
    for r in kmeans_balanced_sample(emb, k=3, rounds=2, m=1000).collect():
        got[r["cluster"]] = got.get(r["cluster"], 0) + 1
    assert got == sizes


def test_mr_fft_fast_mode_invariants(spark, sf_dir):
    """fast=True (per-partition R1, codegen R3): valid composable
    coreset — ≤ L·K rows, radius covers every point — with the
    reference's own R1 shape (coreset may differ from the
    deterministic content-group path's; the objective stays a 2-approx
    either way)."""
    from pyspark.sql import functions as F

    from big_data_computing__spark.operators.clustering import (
        fft_coreset_fast,
        min_dist_to_centers,
        mr_fft,
    )
    from big_data_computing__spark.sources.readers import customer_points

    pts = customer_points(spark, sf_dir).select(
        "id", "x", "y", F.array("x", "y").alias("features")
    )
    k, l = 4, 8
    cs = fft_coreset_fast(pts, k, l).collect()
    assert 0 < len(cs) <= k * l
    res = mr_fft(pts, k, l, seed=0, fast=True)
    assert res.radius > 0
    # the radius covers all points (k-center feasibility)
    max_d = (
        min_dist_to_centers(pts, res.centers)
        .agg(F.max("min_dist").alias("m"))
        .collect()[0]["m"]
    )
    assert max_d <= res.radius * (1 + 1e-9)
