"""Outlier operators vs hand-computed fixtures and self-oracle parity.

Mirrors the reference's own verification method (SURVEY.md §5): exact
and approximate results must bracket each other —
sure <= exact_outlier_points <= sure + uncertain.
"""

from __future__ import annotations

import math

import pytest

from big_data_computing__spark.operators import outliers as O
from big_data_computing__spark.sources.readers import customer_points


@pytest.fixture(scope="module")
def tiny(spark):
    # 5 points: a tight cluster of 3 within distance 1, two isolated
    rows = [
        (1, 0.0, 0.0),
        (2, 0.5, 0.0),
        (3, 0.0, 0.5),
        (4, 100.0, 100.0),
        (5, -100.0, 50.0),
    ]
    return spark.createDataFrame(rows, "id long, x double, y double")


def test_ball_counts_include_self(spark, tiny):
    counts = {
        r["id"]: r["ball_count"]
        for r in O.ball_counts(tiny, d=1.0).collect()
    }
    # cluster of 3: each sees all 3 (pairwise distances <= 1)
    assert counts[1] == 3 and counts[2] == 3 and counts[3] == 3
    assert counts[4] == 1 and counts[5] == 1


def test_exact_outliers_threshold(spark, tiny):
    ids = {r["id"] for r in O.exact_outliers(tiny, d=1.0, m=2).collect()}
    assert ids == {4, 5}
    ids_m3 = {r["id"] for r in O.exact_outliers(tiny, d=1.0, m=3).collect()}
    assert ids_m3 == {1, 2, 3, 4, 5}


def test_exact_outliers_topk_order(spark, tiny):
    rows = O.exact_outliers_topk(tiny, d=1.0, m=3, k=3).collect()
    assert [r["id"] for r in rows] == [4, 5, 1]  # counts 1,1,3; id tiebreak


def test_cell_counts_lambda(spark, tiny):
    # D = 2*sqrt(2) → Λ = 1: cells are unit squares
    d = 2.0 * math.sqrt(2.0)
    cells = {
        (r["ci"], r["cj"]): r["cnt"]
        for r in O.cell_counts(tiny, d).collect()
    }
    assert cells[(0, 0)] == 3
    assert cells[(100, 100)] == 1
    assert cells[(-100, 50)] == 1


def test_neighborhood_sums(spark, tiny):
    d = 2.0 * math.sqrt(2.0)
    cells = {
        (r["ci"], r["cj"]): (r["cnt"], r["n3"], r["n7"])
        for r in O.approx_outlier_cells(tiny, d).collect()
    }
    # isolated cells: N3 = N7 = own count
    assert cells[(100, 100)] == (1, 1, 1)
    assert cells[(0, 0)] == (3, 3, 3)


def test_neighborhood_sums_match_python_reference(spark, sf_dir):
    # a NULL coordinate has no cell: it adds to no sum and gets no row
    pts = customer_points(spark, sf_dir).unionByName(
        spark.createDataFrame(
            [(-1, None, 5.0), (-2, 5.0, None)], "id long, x double, y double"
        )
    )
    d = 500.0
    cells = {
        (r["ci"], r["cj"]): r["cnt"]
        for r in O.cell_counts(pts, d).collect()
        if r["ci"] is not None and r["cj"] is not None
    }

    def near(ci, cj, r):
        return sum(
            cells.get((ci + di, cj + dj), 0)
            for di in range(-r, r + 1)
            for dj in range(-r, r + 1)
        )

    want = {
        (ci, cj): (cnt, near(ci, cj, 1), near(ci, cj, 3))
        for (ci, cj), cnt in cells.items()
    }
    got = {
        (r["ci"], r["cj"]): (r["cnt"], r["n3"], r["n7"])
        for r in O.approx_outlier_cells(pts, d).collect()
    }
    assert got == want


def test_summary_bracket_self_oracle(spark, sf_dir):
    """sure <= exact outliers <= sure + uncertain (reference's printed
    invariant, big_data_computing_1.py:180-186)."""
    pts = customer_points(spark, sf_dir).cache()
    d, m = 500.0, 10
    summary = O.approx_outliers_summary(pts, d, m).collect()[0]
    exact = O.exact_outliers(pts, d, m).count()
    assert summary["sure_outliers"] <= exact
    assert exact <= summary["sure_outliers"] + summary["uncertain_points"]


def test_negative_coordinates_floor(spark):
    # floor-division cell ids must match Python // for negatives
    pts = spark.createDataFrame(
        [(1, -0.1, -0.1)], "id long, x double, y double"
    )
    d = 2.0 * math.sqrt(2.0)  # Λ = 1
    [row] = O.cell_counts(pts, d).collect()
    assert (row["ci"], row["cj"]) == (-1, -1)


def test_detect_outliers_auto_switch(spark, sf_dir):
    pts = customer_points(spark, sf_dir)
    mode, df = O.detect_outliers(pts, d=500.0, m=10, mode="auto")
    assert mode == "exact"  # 150 rows at sf0.001
    assert set(df.columns) == {"id", "ball_count"}
    mode2, df2 = O.detect_outliers(
        pts, d=500.0, m=10, mode="auto", exact_threshold=10
    )
    assert mode2 == "approx"
    assert set(df2.columns) == {"sure_outliers", "uncertain_points"}


def test_ivf_ball_counts_exactly_match_brute_force(spark, sf_dir):
    """IVF-cell pruning must be exact — identical counts to brute force."""
    from big_data_computing__spark.sources.readers import embedding_points

    pts = embedding_points(spark, sf_dir).cache()
    brute = {
        r["id"]: r["ball_count"]
        for r in O.ball_counts_nd(pts, d=1.3).collect()
    }
    ivf = {
        r["id"]: r["ball_count"]
        for r in O.ball_counts_nd_ivf(pts, d=1.3, n_cells=8, seed=1).collect()
    }
    assert ivf == brute


def test_grid_nd_ball_counts_exactly_match_brute_force(spark, sf_dir):
    """The low-dim grid index (array<long> cell keys, 3^d neighbor
    explode) must be exact — identical counts to brute force on the
    3-D projection — and refuse dimensions where the neighborhood
    explode is unreasonable."""
    import pytest as _pytest

    from pyspark.sql import functions as F
    from big_data_computing__spark.sources.readers import embedding_points

    pts = (
        embedding_points(spark, sf_dir)
        .select("id", F.slice("features", 1, 3).alias("features"))
        .cache()
    )
    brute = {
        r["id"]: r["ball_count"]
        for r in O.ball_counts_nd(pts, d=0.25).collect()
    }
    grid = {
        r["id"]: r["ball_count"]
        for r in O.ball_counts_grid_nd(pts, d=0.25, dims=3).collect()
    }
    assert grid == brute and len(grid) > 0
    pts.unpersist()

    with _pytest.raises(ValueError):
        O.ball_counts_grid_nd(pts, d=0.25, dims=12)


def test_zorder_key_interleave_and_locality(spark):
    """Morton key: hand-checked bit interleave, and the locality
    property that motivates the layout — consecutive keys in a 4×4
    grid cover the quadrant blocks (the Z curve), so a sort by zkey
    groups spatial neighbors."""
    from pyspark.sql import functions as F

    rows = [(x, y) for x in range(4) for y in range(4)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", O.zorder_key(F.col("x"), F.col("y"), bits=2).alias("z")
        ).collect()
    }
    # interleave: z = x0 + 2*y0 + 4*x1 + 8*y1 (hand-computed corners)
    assert got[(0, 0)] == 0
    assert got[(1, 0)] == 1
    assert got[(0, 1)] == 2
    assert got[(1, 1)] == 3
    assert got[(2, 2)] == 12
    assert got[(3, 3)] == 15
    # the first 4 keys form the lower-left 2×2 quadrant — Z locality
    first_quad = sorted(got, key=got.get)[:4]
    assert set(first_quad) == {(0, 0), (1, 0), (0, 1), (1, 1)}


def test_zorder_key3_interleave_and_guard(spark):
    """3-D Morton key: hand-checked interleave on a 2-bit cube
    (z = x0 + 2*y0 + 4*z0 + 8*x1 + ...), octant locality (first 8 keys
    are the unit cube corners), out-of-range raise, and the bits-width
    ValueError."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    rows = [(x, y, z) for x in range(4) for y in range(4) for z in range(4)]
    df = spark.createDataFrame(rows, "x long, y long, z long")
    got = {
        (r["x"], r["y"], r["z"]): r["k"]
        for r in df.select(
            "x", "y", "z",
            O.zorder_key3(
                F.col("x"), F.col("y"), F.col("z"), bits=2
            ).alias("k"),
        ).collect()
    }
    assert got[(0, 0, 0)] == 0
    assert got[(1, 0, 0)] == 1
    assert got[(0, 1, 0)] == 2
    assert got[(0, 0, 1)] == 4
    assert got[(1, 1, 1)] == 7
    assert got[(2, 0, 0)] == 8
    assert got[(3, 3, 3)] == 63
    first_octant = sorted(got, key=got.get)[:8]
    assert set(first_octant) == {
        (x, y, z) for x in (0, 1) for y in (0, 1) for z in (0, 1)
    }
    # ordering check: all 64 keys are a bijection onto 0..63
    assert sorted(got.values()) == list(range(64))

    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    bad = spark.createDataFrame([(4, 0, 0)], "x long, y long, z long")
    with _pytest.raises((Py4JJavaError, SparkRuntimeException)):
        bad.select(
            O.zorder_key3(F.col("x"), F.col("y"), F.col("z"), bits=2)
        ).collect()

    with _pytest.raises(ValueError, match="bits"):
        O.zorder_key3(F.col("x"), F.col("y"), F.col("z"), bits=21)


def test_hilbert_key_matches_reference_and_adjacency(spark):
    """hilbert_key must equal the classic xy2d recurrence bit-for-bit,
    and deliver the property Morton lacks: sorted by key, consecutive
    cells of a full grid are always Manhattan-distance-1 neighbors
    (Morton jumps across the plane at quadrant boundaries)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    def xy2d(n, x, y):
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = n - 1 - x, n - 1 - y
                x, y = y, x
            s //= 2
        return d

    bits = 5
    n = 1 << bits
    grid = [(x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(grid, "x long, y long")
    got = {
        (r["x"], r["y"]): r["k"]
        for r in df.select(
            "x",
            "y",
            O.hilbert_key(F.col("x"), F.col("y"), bits=bits).alias("k"),
        ).collect()
    }
    assert got == {(x, y): xy2d(n, x, y) for x, y in grid}
    # bijection onto 0..n^2-1 and full-grid adjacency of the sort order
    ordered = sorted(got, key=got.get)
    assert sorted(got.values()) == list(range(n * n))
    assert all(
        abs(a[0] - b[0]) + abs(a[1] - b[1]) == 1
        for a, b in zip(ordered, ordered[1:])
    )
    # Morton, for contrast, takes long jumps: its worst consecutive
    # step on the same grid is much larger than 1
    mort = {
        (r["x"], r["y"]): r["k"]
        for r in df.select(
            "x",
            "y",
            O.zorder_key(F.col("x"), F.col("y"), bits=bits).alias("k"),
        ).collect()
    }
    mordered = sorted(mort, key=mort.get)
    worst = max(
        abs(a[0] - b[0]) + abs(a[1] - b[1])
        for a, b in zip(mordered, mordered[1:])
    )
    assert worst > 1

    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    bad = spark.createDataFrame([(n, 0)], "x long, y long")
    with _pytest.raises((Py4JJavaError, SparkRuntimeException)):
        bad.select(
            O.hilbert_key(F.col("x"), F.col("y"), bits=bits)
        ).collect()
    with _pytest.raises(ValueError, match="bits"):
        O.hilbert_key(F.col("x"), F.col("y"), bits=32)
