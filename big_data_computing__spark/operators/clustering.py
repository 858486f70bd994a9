"""k-center clustering: Farthest-First Traversal (FFT) and 2-round MRFFT.

Re-expresses the reference's MRFFT (big_data_computing_2.py:14-54):
  R1 — run FFT(K) independently per partition → L·K-point coreset
  R2 — FFT(K) on the coreset, driver-local → K centers
  R3 — radius = max over points of min distance to the centers

Spark-first design decisions:
- The sequential FFT kernel (Gonzalez' algorithm — inherently an
  argmax-per-iteration loop) stays a **vectorized numpy kernel** invoked
  through Arrow (``applyInPandas``), the idiomatic Spark form for a
  sequential coreset kernel (SURVEY.md C2/C3).
- Partitioning for R1 is **content-based**: rows are grouped by
  ``hash60(id) % L`` instead of ``repartition(L)``. The reference's
  coreset depends on physical partitioning (big_data_computing_2.py:34),
  so its output changes with cluster size; the engine's coreset is a pure
  function of (data, L, seed) — identical on 1 or 1000 executors.
- The random first center (np.random.randint, big_data_computing_2.py:19)
  is seeded; the composable-coreset guarantee (union of per-group FFT(K)
  coresets preserves the k-center objective within a constant factor)
  does not depend on the draw.
- R3 is a single vectorized pandas_udf using a (batch × centers) matmul —
  the Arrow equivalent of the reference's per-point scipy cdist
  (big_data_computing_2.py:47-49) but batched, plus a max aggregation.
  For *literal* center lists there is also a pure-Catalyst variant
  (:func:`min_dist_to_centers_expr`) used by the SQL-oracle-checked
  queries.

Instrumentation: :func:`mr_fft` returns per-round wall-clock ms, mirroring
the reference's printed R1/R2/R3 timings (big_data_computing_2.py:54).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.geometry import sq_dist_vec
from ..functions.hashing import hash60


def sequential_fft(points: np.ndarray, k: int, seed: int = 0) -> np.ndarray:
    """Gonzalez farthest-first traversal on an (n, d) array → (k', d) centers,
    k' = min(k, n). Seeded first-center choice; O(n·k) with a running
    min-distance vector (reference kernel: big_data_computing_2.py:14-28).
    """
    n = len(points)
    if n == 0:
        return points.reshape(0, points.shape[1] if points.ndim == 2 else 0)
    k = min(k, n)
    rng = np.random.default_rng(seed)
    idx = int(rng.integers(0, n))
    chosen = [idx]
    min_d = np.linalg.norm(points - points[idx], axis=1)
    for _ in range(k - 1):
        idx = int(np.argmax(min_d))
        chosen.append(idx)
        np.minimum(min_d, np.linalg.norm(points - points[idx], axis=1), out=min_d)
    return points[chosen]


def fft_coreset(
    points: DataFrame,
    k: int,
    l: int,
    seed: int = 0,
    id_col: str = "id",
    features_col: str = "features",
) -> DataFrame:
    """MRFFT Round 1: content-partitioned per-group FFT → ≤ L·K-row coreset.

    DataFrame[grp long, features array<double>]. Deterministic for fixed
    (data, k, l, seed) on any cluster size.
    """
    schema = T.StructType(
        [
            T.StructField("grp", T.LongType()),
            T.StructField("features", T.ArrayType(T.DoubleType())),
        ]
    )

    def run_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.array(pdf["features"].tolist(), dtype=np.float64)
        # Shuffle arrival order is not deterministic; the seeded kernel
        # indexes into the row order (first-center draw, argmax ties), so
        # fix a canonical lexicographic order first. This makes the
        # coreset a pure function of the row *set* — stable across runs,
        # partitionings, and cluster sizes, which is what lets the driver
        # pin golden oracle values for the FFT family.
        if len(mat) > 1:
            mat = mat[np.lexsort(mat.T[::-1])]
        centers = sequential_fft(mat, k, seed=seed + int(key[0]))
        return pd.DataFrame(
            {"grp": int(key[0]), "features": [list(c) for c in centers]}
        )

    grouped = points.select(
        (hash60(F.col(id_col).cast("string")) % F.lit(l)).alias("grp"),
        F.col(features_col).alias("features"),
    )
    return grouped.groupBy("grp").applyInPandas(run_group, schema)


def fft_coreset_fast(
    points: DataFrame,
    k: int,
    l: int | None = None,
    seed: int = 0,
    features_col: str = "features",
) -> DataFrame:
    """MRFFT Round 1, THROUGHPUT path: per-PARTITION FFT over the
    existing physical partitioning — zero shuffle, zero per-row
    hashing, one Arrow pass. DataFrame[features array<double>], ≤ K
    rows per partition.

    This is the reference's exact R1 shape (mapPartitions at
    big_data_computing_2.py:34): the coreset depends on the physical
    partitioning, like the reference's does. Use :func:`fft_coreset`
    when the coreset must be a pure function of the row SET (the
    content-group contract the golden oracles pin) — that
    determinism costs a shuffle + md5 per row, measured 3.5s vs 0.9s
    on 600k points (COMPARE.md r7). The k-center guarantee is
    identical either way: any partition-wise FFT(K) union is a valid
    composable coreset.

    ``l``: repartition to exactly L first (only if the current
    partitioning differs) — the coreset-size bound L·K depends on it.
    """
    df = points.select(F.col(features_col).alias("features"))
    if l is not None and df.rdd.getNumPartitions() != l:
        df = df.repartition(l)
    schema = T.StructType(
        [T.StructField("features", T.ArrayType(T.DoubleType()))]
    )

    def run_partition(batches):
        from pyspark import TaskContext

        mats = [
            np.array(b["features"].tolist(), dtype=np.float64)
            for b in batches
            if len(b)
        ]
        if not mats:
            return
        mat = mats[0] if len(mats) == 1 else np.concatenate(mats)
        pid = TaskContext.get().partitionId()
        centers = sequential_fft(mat, k, seed=seed + pid)
        yield pd.DataFrame({"features": [list(c) for c in centers]})

    return df.mapInPandas(run_partition, schema)


def min_dist_to_centers_expr(
    features: Column, centers: list[list[float]]
) -> Column:
    """Catalyst-only min distance from a vector column to literal centers.

    Used when centers are known constants (oracle-checked queries and small
    K): ``array_min(transform(centers, c -> sqrt(Σ (x-c)²)))`` — stays in
    whole-stage codegen, no Python.
    """
    centers_lit = F.array(
        *[
            F.array(*[F.lit(float(v)) for v in c])
            for c in centers
        ]
    )
    return F.array_min(
        F.transform(centers_lit, lambda c: F.sqrt(sq_dist_vec(features, c)))
    )


def _min_dist_pandas(centers: np.ndarray):
    """Vectorized ||x - c|| min via the (x² + c² − 2·x·c) matmul identity."""
    c_sq = (centers**2).sum(axis=1)

    def compute(batch: pd.Series) -> pd.Series:
        x = np.array(batch.tolist(), dtype=np.float64)
        d2 = (
            (x**2).sum(axis=1)[:, None]
            - 2.0 * (x @ centers.T)
            + c_sq[None, :]
        )
        np.maximum(d2, 0.0, out=d2)
        return pd.Series(np.sqrt(d2.min(axis=1)))

    return compute


def min_dist_to_centers(
    points: DataFrame,
    centers: np.ndarray,
    features_col: str = "features",
    out_col: str = "min_dist",
) -> DataFrame:
    """Attach min distance to a center matrix (Arrow-vectorized pandas_udf).

    The scale path for d-dimensional data and non-literal centers — one
    matmul per Arrow batch instead of the reference's per-point cdist call
    (big_data_computing_2.py:47-49).
    """
    udf = F.pandas_udf(_min_dist_pandas(centers), T.DoubleType())
    return points.withColumn(out_col, udf(F.col(features_col)))


@dataclass
class MRFFTResult:
    radius: float
    centers: np.ndarray
    coreset_size: int
    timings_ms: dict[str, int] = field(default_factory=dict)


def _coreset_matrix(
    points: DataFrame,
    k: int,
    l: int,
    seed: int,
    id_col: str,
    features_col: str,
    fast: bool,
) -> np.ndarray:
    """MRFFT Round 1: the coreset, collected to the driver."""
    r1 = (
        fft_coreset_fast(points, k, l, seed, features_col)
        if fast
        else fft_coreset(points, k, l, seed, id_col, features_col)
    )
    return np.array(
        [row["features"] for row in r1.collect()],
        dtype=np.float64,
    )


def mr_fft_centers(
    points: DataFrame,
    k: int,
    l: int,
    seed: int = 0,
    id_col: str = "id",
    features_col: str = "features",
    fast: bool = False,
) -> np.ndarray:
    """MRFFT Rounds 1+2: the k centers, without the radius pass.

    For callers that only partition by the centers (IVF cells, the
    d-dimensional outlier index): skipping Round 3 saves a full pass
    over the points. :func:`mr_fft` runs the same two rounds, so both
    return the same centers.
    """
    coreset = _coreset_matrix(points, k, l, seed, id_col, features_col, fast)
    return sequential_fft(coreset, k, seed=seed)


def mr_fft(
    points: DataFrame,
    k: int,
    l: int,
    seed: int = 0,
    id_col: str = "id",
    features_col: str = "features",
    fast: bool = False,
) -> MRFFTResult:
    """Full 2-round MRFFT + radius (reference big_data_computing_2.py:31-54).

    Returns the k-center radius (objective value), the centers, and
    per-round wall-clock ms ("r1_coreset", "r2_centers", "r3_radius").
    Rounds 1+2 are :func:`mr_fft_centers`, timed round by round.

    ``fast=True`` selects the shuffle-free per-partition R1
    (:func:`fft_coreset_fast` — the reference's own R1 shape; coreset
    depends on the partitioning) instead of the deterministic
    content-group R1 the golden oracles pin. R3 stays in whole-stage
    codegen (literal-centers Catalyst expression) whenever k·d is
    small enough to inline; the Arrow matmul kernel takes over for
    wide embeddings.
    """
    t0 = time.time()
    coreset = _coreset_matrix(points, k, l, seed, id_col, features_col, fast)
    t1 = time.time()
    centers = sequential_fft(coreset, k, seed=seed)
    t2 = time.time()
    # fast mode only: the codegen expression rounds sqrt(Σ(x-c)²)
    # differently from the matmul identity the golden oracles pinned,
    # so the deterministic path keeps the Arrow kernel bit-for-bit
    if fast and centers.size and centers.shape[0] * centers.shape[1] <= 512:
        min_d = min_dist_to_centers_expr(
            F.col(features_col), [list(c) for c in centers]
        )
        radius_df = points.select(min_d.alias("min_dist"))
    else:
        radius_df = min_dist_to_centers(points, centers, features_col)
    radius = (
        radius_df.agg(F.max("min_dist").alias("radius"))
        .collect()[0]["radius"]
    )
    t3 = time.time()
    return MRFFTResult(
        radius=float(radius),
        centers=centers,
        coreset_size=len(coreset),
        timings_ms={
            "r1_coreset": int((t1 - t0) * 1000),
            "r2_centers": int((t2 - t1) * 1000),
            "r3_radius": int((t3 - t2) * 1000),
        },
    )


def assign_clusters(
    points: DataFrame,
    centers: np.ndarray,
    features_col: str = "features",
    out_col: str = "cluster",
) -> DataFrame:
    """Nearest-center id per point (argmin), Arrow-vectorized.

    Not in the reference (it only computes the radius) but the natural
    companion operator; also the partitioner for IVF-style ANN search.
    """
    c = np.asarray(centers, dtype=np.float64)
    c_sq = (c**2).sum(axis=1)

    def compute(batch: pd.Series) -> pd.Series:
        x = np.array(batch.tolist(), dtype=np.float64)
        d2 = (x**2).sum(axis=1)[:, None] - 2.0 * (x @ c.T) + c_sq[None, :]
        return pd.Series(d2.argmin(axis=1).astype(np.int32))

    udf = F.pandas_udf(compute, T.IntegerType())
    return points.withColumn(out_col, udf(F.col(features_col)))


# ---------------------------------------------------------------------------
# Integer-exact distributed Lloyd's k-means (companion to MRFFT's
# k-center: FFT minimizes the max radius, Lloyd minimizes inertia)
# ---------------------------------------------------------------------------

KMEANS_SCALE = 1_000_000


def _tdiv(s: int, n: int) -> int:
    """Truncating integer division (toward zero) — the semantics BOTH
    Spark's ``div`` and DuckDB's ``//`` use on BIGINTs (Python's ``//``
    floors, which differs on negative sums)."""
    q = abs(s) // n
    return q if s >= 0 else -q


def _kmeans_pts(emb: DataFrame, scale: int) -> DataFrame:
    """(vec_id, e) with e = floor(scale·x) per coordinate as BIGINT —
    floor (not round/cast) because it is the one float→int map with
    identical semantics in Spark, DuckDB, and numpy."""
    return emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(floor({scale} * "
            "CAST(x AS DOUBLE)) AS BIGINT))"
        ).alias("e"),
    )


def _argmin_center_expr(centers: list[list[int]]) -> F.Column:
    """Nearest-center id as a pure Catalyst expression over literal
    integer centroids: d²(e, q_c) = Σ (eᵢ - qᵢ)² in exact BIGINTs,
    argmin via array_sort on (d², c) structs (deterministic tiebreak:
    lowest center id). Stays inside whole-stage codegen — the
    assignment step never shuffles."""
    entries = []
    for c, q in enumerate(centers):
        lit = "array(" + ",".join(f"{v}L" for v in q) + ")"
        entries.append(
            "struct(aggregate(zip_with(e, "
            f"{lit}, (a, b) -> (a - b) * (a - b)), 0L, "
            f"(acc, x) -> acc + x) AS d2, {c} AS c)"
        )
    return F.expr(
        "array_sort(array(" + ",".join(entries) + "))[0]"
    )


def kmeans_lloyd(
    emb: DataFrame,
    k: int = 8,
    rounds: int = 3,
    scale: int = KMEANS_SCALE,
) -> DataFrame:
    """Distributed Lloyd's k-means over the embeddings table,
    INTEGER-EXACT: DataFrame[cluster, n_members, inertia] after
    ``rounds`` synchronous iterations.

    Every quantity is an exact BIGINT, so the whole iteration — not
    just the final report — is bit-reproducible cross-engine and
    independent of row order:
    - coordinates quantize once to e = floor(scale·x) (the only
      float op, identical everywhere);
    - centroids are the truncating integer division Σe div n (what a
      float mean would round; the quantization error is < 1/scale per
      round and identical in both engines);
    - assignment is argmin of the exact integer d² with lowest-id
      tiebreak; empty clusters keep their previous centroid.

    Init: the k vectors with the smallest vec_id (deterministic; the
    seeded-sample + FFT init of the PQ trainers is the smarter
    production choice, but a data-independent init keeps the oracle
    mechanical). Inertia = Σ d² to the FINAL centroids.

    Plan per round: the assignment is a SHUFFLE-FREE codegen map
    (centroids inlined as literals — k·d integers, the bounded
    driver-state idiom of the BPE argmax); the centroid update is one
    (cluster, dim)-keyed aggregation over the posexploded coordinates
    (map-side combined, k·d output rows collected to the driver —
    bounded). So a round costs exactly one shuffle of n·d skinny rows,
    and 100 TB of vectors stream through without any per-partition
    state. Overflow headroom: |e| ≤ scale·|x|; d² ≤ d·(2·scale)²
    ≈ 2.6e14 at d=64 — Σe and Σd² stay under 2^63 through ~10¹²
    vectors per cluster.
    """
    pts = _kmeans_pts(emb, scale).localCheckpoint()
    centers = _kmeans_centers(pts, k, rounds)
    final = pts.select(
        "vec_id", _argmin_center_expr(centers).alias("a")
    )
    return (
        final.groupBy(F.col("a.c").alias("cluster"))
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum("a.d2").cast("long").alias("inertia"),
        )
    )


def _kmeans_centers(
    pts: DataFrame, k: int, rounds: int
) -> list[list[int]]:
    """The Lloyd training loop of :func:`kmeans_lloyd` (same init,
    same rounds, same truncating centroid division); returns the
    final k integer centroids. Shared with
    :func:`kmeans_balanced_sample` so both surface the IDENTICAL
    model for the oracle's unrolled CTEs."""
    init = pts.orderBy("vec_id").limit(k).collect()
    if len(init) < k:
        raise ValueError(f"kmeans_lloyd: fewer than k={k} vectors")
    centers = [list(r["e"]) for r in init]
    for _ in range(rounds):
        assigned = pts.select(
            "vec_id", "e", _argmin_center_expr(centers)["c"].alias("c")
        )
        agg = (
            assigned.select("c", F.posexplode("e").alias("dim", "v"))
            .groupBy("c", "dim")
            .agg(
                F.sum("v").cast("long").alias("s"),
                F.count("*").cast("long").alias("n"),
            )
            .collect()
        )
        new = [q[:] for q in centers]  # empty clusters keep centroids
        for r in agg:
            new[r["c"]][r["dim"]] = _tdiv(r["s"], r["n"])
        centers = new
    return centers


def kmeans_balanced_sample(
    emb: DataFrame,
    k: int = 8,
    rounds: int = 3,
    m: int = 16,
    scale: int = KMEANS_SCALE,
) -> DataFrame:
    """Cluster-balanced prototype sample: train the same integer-exact
    Lloyd model as :func:`kmeans_lloyd`, then keep the ``m`` vectors
    CLOSEST to their centroid per cluster —
    DataFrame[cluster, vec_id, d2], unique under the (d2, vec_id)
    total order.

    The cluster-then-sample move of diversity-aware data curation
    (the shape of D4 / cluster-balanced subset selection): a uniform
    sample over-represents the dominant mode; sampling a fixed quota
    per k-means cluster keeps every mode represented, and taking the
    closest-to-centroid members yields the most prototypical
    exemplars of each (swap the rank direction for outlier-hunting).

    Plan: the trained centroids are k·d integer literals, so
    assignment + d² is a SHUFFLE-FREE codegen map; the per-cluster
    quota is one window rank partitioned by cluster — Spark plans
    WindowGroupLimit, so each partition holds only its running top-m
    and the single shuffle moves skinny (cluster, vec_id, d2) rows.
    At 100 TB: train cost = kmeans_lloyd; selection cost = one skinny
    k-partition shuffle, never the vectors themselves.
    """
    pts = _kmeans_pts(emb, scale).localCheckpoint()
    centers = _kmeans_centers(pts, k, rounds)
    assigned = pts.select(
        "vec_id", _argmin_center_expr(centers).alias("a")
    ).select(
        F.col("a.c").alias("cluster"),
        "vec_id",
        F.col("a.d2").alias("d2"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cluster").orderBy("d2", "vec_id")
    return (
        assigned.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= m)
        .select(
            "cluster", "vec_id", F.col("d2").cast("long").alias("d2")
        )
    )


def kmeans_lloyd_sql(
    k: int = 8, rounds: int = 3, scale: int = KMEANS_SCALE
) -> str:
    """DuckDB twin of :func:`kmeans_lloyd`: the same rounds unrolled
    as CTEs (the k-core/k-truss materialized-round contract) —
    identical floor quantization, identical truncating centroid
    division, identical (d², c) argmin."""
    return f"""{_kmeans_fin_with(k, rounds, scale)}
SELECT CAST(c AS INT) AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(d2) AS BIGINT) AS inertia
FROM fin GROUP BY c
"""


def kmeans_balanced_sample_sql(
    k: int = 8, rounds: int = 3, m: int = 16, scale: int = KMEANS_SCALE
) -> str:
    """DuckDB twin of :func:`kmeans_balanced_sample` (same unrolled
    training CTEs, per-cluster (d2, vec_id) row_number quota)."""
    return f"""{_kmeans_fin_with(k, rounds, scale)}
SELECT CAST(c AS INT) AS cluster, vec_id, CAST(d2 AS BIGINT) AS d2
FROM (
  SELECT c, vec_id, d2,
         ROW_NUMBER() OVER (PARTITION BY c ORDER BY d2, vec_id) AS rk
  FROM fin
) WHERE rk <= {m}
"""


def _kmeans_fin_with(
    k: int, rounds: int, scale: int, dims: int | None = None
) -> str:
    """The shared WITH-chain of the unrolled Lloyd oracle, ending in
    CTE ``fin`` = (vec_id, c, d2) final assignments. ``dims`` trains
    on the first ``dims`` coordinates only (the int8 tier's subspace
    convention); None = the full embedding."""
    d2 = (
        "list_sum(list_transform(range(1, len(e) + 1), "
        "i -> (e[i] - q[i]) * (e[i] - q[i])))"
    )
    emb_slice = "" if dims is None else f"[1:{dims}]"
    ctes = [
        f"""
pts AS (
  SELECT vec_id,
         list_transform(embedding{emb_slice},
                        x -> CAST(floor({scale} * CAST(x AS DOUBLE))
                                  AS BIGINT)) AS e
  FROM embeddings
),
c0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS c,
         e AS q
  FROM pts ORDER BY vec_id LIMIT {k}
)"""
    ]
    for r in range(rounds):
        ctes.append(f"""
a{r} AS (
  SELECT vec_id, e, c, d2 FROM (
    SELECT p.vec_id, p.e, c{r}.c, {d2} AS d2,
           ROW_NUMBER() OVER (PARTITION BY p.vec_id
                              ORDER BY {d2}, c{r}.c) AS rn
    FROM pts p CROSS JOIN c{r}
  ) WHERE rn = 1
),
upd{r} AS (
  SELECT c, dim, SUM(ev) // COUNT(*) AS qv
  FROM (
    SELECT c, unnest(range(1, len(e) + 1)) AS dim, unnest(e) AS ev
    FROM a{r}
  ) GROUP BY c, dim
),
c{r + 1} AS (
  SELECT prev.c,
         COALESCE(nq.q, prev.q) AS q
  FROM c{r} prev
  LEFT JOIN (
    SELECT c, list(qv ORDER BY dim) AS q FROM upd{r} GROUP BY c
  ) nq USING (c)
)""")
    return (
        "WITH "
        + ",".join(ctes)
        + f""",
fin AS (
  SELECT vec_id, c, d2 FROM (
    SELECT p.vec_id, cr.c, {d2} AS d2,
           ROW_NUMBER() OVER (PARTITION BY p.vec_id
                              ORDER BY {d2}, cr.c) AS rn
    FROM pts p CROSS JOIN c{rounds} cr
  ) WHERE rn = 1
)"""
    )
