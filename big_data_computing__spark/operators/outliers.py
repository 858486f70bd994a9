"""(M,D)-outlier detection — exact and grid-approximate.

Re-expresses the reference's two outlier algorithms
(``ExactOutliers`` big_data_computing_1.py:30-52 and ``MRApproxOutliers``
big_data_computing_1.py:78-114 / big_data_computing_2.py:84-113) as pure
relational plans.

Definitions (reference semantics, preserved exactly):
- |B(p,D)| = number of points within distance D of p, **including p itself**
  (the reference seeds ``counts = [1]*n``, big_data_computing_1.py:33).
- p is an (M,D)-outlier iff |B(p,D)| <= M  (big_data_computing_1.py:43).
- Grid approximation: cells of side Λ = D/(2√2); N3 = points in the 3×3
  cell neighborhood, N7 in the 7×7 (big_data_computing_1.py:91-95).
  A cell is **sure-outlier** if N3<=M ∧ N7<=M, **uncertain** if N3<=M ∧ N7>M
  (big_data_computing_1.py:101-103).

Plan building: each 2-D operator renders its whole plan as one Spark SQL
text in Python and runs it with one ``spark.sql(text, points=df)`` call,
which registers the input as a temp view for the analysis and drops it
afterwards. The operators keep their DataFrame-in / DataFrame-out
signatures. The DataFrame and SQL front ends meet in the same Catalyst
plan, so the executed plan is the one the equivalent DataFrame calls
give; what goes is the py4j round trip per ``Column``. The
``_*_spark_sql`` functions take the text of their input relation, so the
operators compose as nested subqueries. Floats are rendered by
``sql_double`` (DOUBLE literals, never DECIMAL).

Scale design (100 TB target):
- ExactOutliers: the reference is a driver-local O(n²) loop gated at
  n <= 200k (big_data_computing_1.py:178). Here it is a **grid-bucketed
  distance self-join**: bucket points into cells of side D, explode each
  point to its 3×3 neighbor cells on the probe side, equi-join on the cell
  key, then filter on true squared distance. Catalyst executes it as a
  shuffled hash join on the cell key — O(n · local density) instead of
  O(n²), and fully distributed. No driver gate needed.
- MRApproxOutliers: points → cell counts is one partial+final hash
  aggregation (Catalyst does the map-side combine the reference hand-rolls
  in ``gather_pairs``, big_data_computing_1.py:67-75). The N3/N7
  neighborhood sums become a **scatter-aggregate**: every cell sends its
  count to the 49 cells of its 7×7 neighborhood and one hash aggregation
  on the target cell sums them — replacing the reference's
  ``collectAsMap`` + closure-captured dict (big_data_computing_1.py:87-95),
  which would OOM the driver at scale. The cell table is ~|points| / density
  rows and is scanned once; nothing is broadcast or cached.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.geometry import (
    cell_coord_spark_sql,
    grid_lambda,
    sq_dist_2d_spark_sql,
)
from ..functions.sqlsafe import sql_double

_OFFSETS_3X3 = [(di, dj) for di in range(-1, 2) for dj in range(-1, 2)]
_OFFSETS_7X7 = [(di, dj) for di in range(-3, 4) for dj in range(-3, 4)]


def _offsets_sql(offsets: list[tuple[int, int]]) -> str:
    """The offsets as one literal array<struct<di, dj>> in Spark SQL;
    the optimizer folds it to a single literal."""
    return (
        "array("
        + ", ".join(f"named_struct('di', {di}, 'dj', {dj})" for di, dj in offsets)
        + ")"
    )


# ---------------------------------------------------------------------------
# Exact algorithm
# ---------------------------------------------------------------------------


def _ball_counts_spark_sql(
    src: str, d: float, id_col: str, x: str, y: str
) -> str:
    """|B(p,D)| per point of relation ``src``: (id, ball_count)."""
    base = (
        f"(SELECT {id_col} AS id, CAST({x} AS DOUBLE) AS x, "
        f"CAST({y} AS DOUBLE) AS y, "
        f"{cell_coord_spark_sql(f'CAST({x} AS DOUBLE)', d)} AS ci, "
        f"{cell_coord_spark_sql(f'CAST({y} AS DOUBLE)', d)} AS cj "
        f"FROM {src})"
    )
    return f"""
SELECT id, count(*) AS ball_count
FROM (
  SELECT id, x, y, ci + o.di AS nci, cj + o.dj AS ncj
  FROM (
    SELECT id, x, y, explode({_offsets_sql(_OFFSETS_3X3)}) AS o, ci, cj
    FROM {base} base
  ) exploded
) probe
JOIN (SELECT ci AS nci, cj AS ncj, x AS cx, y AS cy FROM {base} base) cand
  USING (nci, ncj)
WHERE {sq_dist_2d_spark_sql("x", "y", "cx", "cy")} <= {sql_double(d * d)}
GROUP BY id"""


def ball_counts(
    points: DataFrame,
    d: float,
    id_col: str = "id",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """|B(p,D)| per point via grid-bucketed distance self-join.

    Returns DataFrame[id, ball_count] where ball_count includes the point
    itself. Cell side = D, so every neighbor within D lies in the 3×3
    cell neighborhood — the equi-join on (cell of probe) = (cell of
    candidate) is exact after the distance filter.
    """
    return points.sparkSession.sql(
        _ball_counts_spark_sql("{points}", d, id_col, x, y), points=points
    )


def _exact_outliers_spark_sql(
    src: str, d: float, m: int, id_col: str, x: str, y: str
) -> str:
    return (
        f"SELECT * FROM ({_ball_counts_spark_sql(src, d, id_col, x, y)}) b "
        f"WHERE ball_count <= {int(m)}"
    )


def exact_outliers(
    points: DataFrame,
    d: float,
    m: int,
    id_col: str = "id",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """All (M,D)-outliers: DataFrame[id, ball_count] with ball_count <= M.

    Distributed replacement for the reference's driver-local O(n²) scan
    (big_data_computing_1.py:30-44); no n <= 200k gate required.
    """
    return points.sparkSession.sql(
        _exact_outliers_spark_sql("{points}", d, m, id_col, x, y),
        points=points,
    )


def exact_outliers_topk(
    points: DataFrame,
    d: float,
    m: int,
    k: int,
    id_col: str = "id",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """First K outliers in ascending |B(p,D)| order (reference prints the
    K smallest-ball points, big_data_computing_1.py:48-53). Tie-break on id
    for determinism — the reference's sort leaves ties ambiguous."""
    outliers = _exact_outliers_spark_sql("{points}", d, m, id_col, x, y)
    return points.sparkSession.sql(
        f"SELECT * FROM ({outliers}) o ORDER BY ball_count, id LIMIT {int(k)}",
        points=points,
    )


# ---------------------------------------------------------------------------
# Grid approximation
# ---------------------------------------------------------------------------


def _cell_counts_spark_sql(src: str, d: float, x: str, y: str) -> str:
    """Non-empty Λ-grid cells of relation ``src``: (ci, cj, cnt)."""
    lam = grid_lambda(d)
    return f"""
SELECT ci, cj, count(*) AS cnt
FROM (
  SELECT {cell_coord_spark_sql(f"CAST({x} AS DOUBLE)", lam)} AS ci,
         {cell_coord_spark_sql(f"CAST({y} AS DOUBLE)", lam)} AS cj
  FROM {src}
) c
GROUP BY ci, cj"""


def cell_counts(
    points: DataFrame, d: float, x: str = "x", y: str = "y"
) -> DataFrame:
    """Non-empty Λ-grid cells with sizes: DataFrame[ci, cj, cnt].

    One hash aggregation; Catalyst's partial aggregation subsumes the
    reference's hand-rolled combiner + reduceByKey
    (big_data_computing_1.py:80-83).
    """
    return points.sparkSession.sql(
        _cell_counts_spark_sql("{points}", d, x, y), points=points
    )


def _neighborhood_spark_sql(src: str) -> str:
    """N3 and N7 sums for each cell of relation ``src`` (ci, cj, cnt):
    (ci, cj, cnt, n3, n7).

    Scatter-aggregate (SURVEY.md A4/A5): each cell sends its ``cnt`` to
    the 49 cells of its 7×7 neighborhood, flagged ``own`` for the (0,0)
    offset and ``near3`` inside the 3×3 core. One ``GROUP BY`` on the
    target cell then sums N3, N7 and the cell's own count; targets that
    received no ``own`` share are empty cells and drop out. That is one
    scan of the cell table and one hash aggregation: no self-join, so
    the cell table needs no cache and no broadcast. Cells with a NULL
    coordinate belong to no grid cell and are dropped. The coalesces
    keep cnt and n3 non-nullable in the schema, as the count(*) they
    come from is.
    """
    return f"""
SELECT ci, cj, coalesce(own, 0) AS cnt, coalesce(n3, 0) AS n3, n7
FROM (
  SELECT ci + o.di AS ci, cj + o.dj AS cj,
         sum(CASE WHEN o.di = 0 AND o.dj = 0 THEN cnt END) AS own,
         sum(CASE WHEN abs(o.di) <= 1 AND abs(o.dj) <= 1 THEN cnt END) AS n3,
         sum(cnt) AS n7
  FROM (
    SELECT ci, cj, cnt, explode({_offsets_sql(_OFFSETS_7X7)}) AS o
    FROM {src} cells
    WHERE ci IS NOT NULL AND cj IS NOT NULL
  ) scatter
  GROUP BY ci + o.di, cj + o.dj
) targets
WHERE own IS NOT NULL"""


def approx_outlier_cells(
    points: DataFrame, d: float, x: str = "x", y: str = "y"
) -> DataFrame:
    """Full per-cell report: DataFrame[ci, cj, cnt, n3, n7]."""
    cells = _cell_counts_spark_sql("{points}", d, x, y)
    return points.sparkSession.sql(
        _neighborhood_spark_sql(f"({cells})"), points=points
    )


def approx_outliers_summary(
    points: DataFrame, d: float, m: int, x: str = "x", y: str = "y"
) -> DataFrame:
    """One-row summary: sure_outliers, uncertain_points (point counts).

    Matches the reference's printed totals (big_data_computing_1.py:101-110):
    sure cells have N3<=M ∧ N7<=M; uncertain have N3<=M ∧ N7>M. The sums
    stay in the plan (no collect-then-sum as in the reference,
    big_data_computing_1.py:101-104).
    """
    cells = _neighborhood_spark_sql(
        f"({_cell_counts_spark_sql('{points}', d, x, y)})"
    )
    m = int(m)
    return points.sparkSession.sql(
        f"""
SELECT CAST(coalesce(sum(CASE WHEN n3 <= {m} AND n7 <= {m} THEN cnt END), 0)
            AS BIGINT) AS sure_outliers,
       CAST(coalesce(sum(CASE WHEN n3 <= {m} AND n7 > {m} THEN cnt END), 0)
            AS BIGINT) AS uncertain_points
FROM ({cells}) cells""",
        points=points,
    )


def ball_counts_nd(
    points: DataFrame,
    d: float,
    id_col: str = "id",
    features_col: str = "features",
) -> DataFrame:
    """|B(p,D)| for d-dimensional points (the generalization HW2's
    dimension-agnostic parser implies, big_data_computing_2.py:10-12).

    Brute-force distance self-join — the 2-D grid bucketing does not
    generalize (3^dim neighbor probes); at scale, pre-partition with the
    engine's own k-center cells (IVF pattern, similarity.py) and join
    within radius-adjacent cells. This baseline is the correctness
    anchor; squared-distance comparison avoids the sqrt per pair.
    """
    a = points.select(
        F.col(id_col).alias("id"), F.col(features_col).alias("fa")
    )
    b = points.select(
        F.col(id_col).alias("bid"), F.col(features_col).alias("fb")
    )
    from ..functions.geometry import sq_dist_vec

    return (
        a.crossJoin(b)
        .where(sq_dist_vec(F.col("fa"), F.col("fb")) <= F.lit(d * d))
        .groupBy("id")
        .agg(F.count("*").alias("ball_count"))
    )


def exact_outliers_nd(
    points: DataFrame,
    d: float,
    m: int,
    id_col: str = "id",
    features_col: str = "features",
    method: str = "ivf",
    brute_threshold: int = 10_000,
    **ivf_kwargs,
) -> DataFrame:
    """(M,D)-outliers in d dimensions: DataFrame[id, ball_count] with
    ball_count <= M (ball includes the point itself).

    ``method``: 'ivf' (default — the IVF-cell-pruned exact scale path,
    :func:`ball_counts_nd_ivf`), 'brute' (all-pairs join — the
    correctness baseline, quadratic), or 'auto' (brute below
    ``brute_threshold`` rows, mirroring the reference's 200k exact gate
    at big_data_computing_1.py:178, else ivf). Both paths are exact;
    they share one oracle.
    """
    if method == "auto":
        method = "brute" if points.count() <= brute_threshold else "ivf"
    if method == "brute":
        counts = ball_counts_nd(points, d, id_col, features_col)
    elif method == "ivf":
        counts = ball_counts_nd_ivf(
            points, d, id_col=id_col, features_col=features_col, **ivf_kwargs
        )
    else:
        raise ValueError(f"unknown method {method!r}")
    return counts.where(F.col("ball_count") <= F.lit(m))


def ball_counts_nd_ivf(
    points: DataFrame,
    d: float,
    n_cells: int = 16,
    l: int = 4,
    seed: int = 42,
    id_col: str = "id",
    features_col: str = "features",
) -> DataFrame:
    """|B(p,D)| in d dimensions via IVF-cell pruning — EXACT, and the
    scale path for :func:`ball_counts_nd`.

    Partition the corpus into k-center cells (the engine's own MRFFT);
    record each cell's covering radius r_c. A point p only needs to probe
    cells with dist(p, centroid_c) <= r_c + D: by the triangle
    inequality any q in cell c with dist(p, q) <= D satisfies it, so no
    neighbor is missed. The join fans out to the qualifying cells only
    (≈ local density) instead of the full corpus — the d-dimensional
    analogue of the 2-D grid bucketing in :func:`ball_counts`.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from .clustering import (
        assign_clusters,
        min_dist_to_centers,
        mr_fft_centers,
    )

    centers = mr_fft_centers(points, k=n_cells, l=l, seed=seed,
                             id_col=id_col, features_col=features_col)
    # read twice (radii collect + join); localCheckpoint, not cache(),
    # so the blocks go when the result is GC'd instead of staying in
    # the session's cache across calls
    assigned = assign_clusters(
        min_dist_to_centers(points, centers, features_col),
        centers,
        features_col,
    ).localCheckpoint()
    radii_rows = (
        assigned.groupBy("cluster")
        .agg(F.max("min_dist").alias("r"))
        .collect()
    )
    radii = np.zeros(len(centers))
    for row in radii_rows:
        radii[row["cluster"]] = row["r"]

    c_sq = (centers**2).sum(axis=1)
    bound = radii + d

    def probe_cells(batch):
        x = np.array(batch.tolist(), dtype=np.float64)
        d2 = (x**2).sum(axis=1)[:, None] - 2.0 * (x @ centers.T) + c_sq[None, :]
        np.maximum(d2, 0.0, out=d2)
        dist = np.sqrt(d2)
        return pd.Series(
            [np.nonzero(row <= bound)[0].tolist() for row in dist]
        )

    probe_cells.__annotations__ = {"batch": pd.Series, "return": pd.Series}
    probe_udf = F.pandas_udf(probe_cells, T.ArrayType(T.IntegerType()))

    queries = points.select(
        F.col(id_col).alias("id"),
        F.col(features_col).alias("qf"),
        F.explode(probe_udf(features_col)).alias("cluster"),
    )
    corpus = assigned.select(
        F.col("cluster"), F.col(features_col).alias("cf")
    )
    from ..functions.geometry import sq_dist_vec

    return (
        queries.join(corpus, "cluster")
        .where(sq_dist_vec(F.col("qf"), F.col("cf")) <= F.lit(d * d))
        .groupBy("id")
        .agg(F.count("*").alias("ball_count"))
    )


def detect_outliers(
    points: DataFrame,
    d: float,
    m: int,
    mode: str = "auto",
    exact_threshold: int = 200_000,
    id_col: str = "id",
    x: str = "x",
    y: str = "y",
):
    """Cost-based exact/approx switch (reference EP1: ExactOutliers runs
    only when n <= 200,000, big_data_computing_1.py:178; the engine keeps
    the gate as an explicit option since the *distributed* exact join has
    no hard driver limit — the gate is now about join fan-out cost, not
    driver memory).

    mode='exact'  → DataFrame[id, ball_count] of outliers
    mode='approx' → 1-row DataFrame[sure_outliers, uncertain_points]
    mode='auto'   → exact below ``exact_threshold`` rows, else approx.
    Returns (mode_used, DataFrame).
    """
    if mode == "auto":
        mode = "exact" if points.count() <= exact_threshold else "approx"
    if mode == "exact":
        return "exact", exact_outliers(points, d, m, id_col, x, y)
    if mode == "approx":
        return "approx", approx_outliers_summary(points, d, m, x, y)
    raise ValueError(f"unknown mode {mode!r}")


def detect_outliers_analyzed(
    table,
    spark,
    d: float,
    m: int,
    x_range: tuple[float, float],
    y_range: tuple[float, float],
    exact_threshold: int = 200_000,
    id_col: str = "id",
):
    """The ANALYZE-driven cost-based exact/approx switch: decide the
    mode from the table's recorded histograms at ZERO data read, then
    execute over only the manifest-pruned files.

    The reference's gate (big_data_computing_1.py:178) hard-codes
    ``n <= 200,000`` and pays a full count() job to evaluate it;
    :func:`detect_outliers` mode='auto' inherits that count. Here the
    row count of the queried box is ESTIMATED from the per-file
    equi-width histograms ``ZTable.analyze_histograms`` recorded
    (STRESS.md: 0.48% mean abs rel err at 32 bins), combined across
    the two dimensions under the Selinger independence convention
    sel(box) = sel(x)·sel(y) — the estimate costs a manifest read,
    no data. The exact theta-join's cost is quadratic in the box
    population, so a wrong-side gate is 10-100× wall time; the
    histogram estimate picks the side before touching data, which is
    the cost-based-optimizer shape SURVEY §4 calls for.

    Returns (mode_used, estimated_rows, result DataFrame). Requires
    ``analyze_histograms([x, y])`` to have run; raises otherwise so a
    silent fall-back can't masquerade as a cost decision.
    """
    snap = table.snapshot()
    hist_cols = set(snap.get("hist_cols") or [])
    if not {table.x, table.y} <= hist_cols:
        raise ValueError(
            "detect_outliers_analyzed: run "
            f"analyze_histograms([{table.x!r}, {table.y!r}]) first "
            f"(recorded: {sorted(hist_cols)})"
        )
    n_rows = sum(e["n_rows"] for e in snap["files"])
    est_x, _, _ = table.estimate_range_count(table.x, *x_range)
    est_y, _, _ = table.estimate_range_count(table.y, *y_range)
    est = est_x * est_y / n_rows if n_rows else 0.0
    pruned, _, _ = table.read_pruned(spark, x_range, y_range)
    pts = pruned.select(
        F.col(id_col), F.col(table.x).alias("x"), F.col(table.y).alias("y")
    )
    if est <= exact_threshold:
        return "exact", est, exact_outliers(pts, d, m, id_col)
    return "approx", est, approx_outliers_summary(pts, d, m)


def smallest_cells_topk(
    points: DataFrame, d: float, k: int, x: str = "x", y: str = "y"
) -> DataFrame:
    """K smallest non-empty cells (reference big_data_computing_1.py:112-114).

    The reference's ``sortByKey().sortBy(size)`` leaves the tie order to
    sort stability; here the order is explicit and total:
    (cnt, ci, cj) ascending.
    """
    cells = _cell_counts_spark_sql("{points}", d, x, y)
    return points.sparkSession.sql(
        f"SELECT * FROM ({cells}) cells ORDER BY cnt, ci, cj LIMIT {int(k)}",
        points=points,
    )


def ball_counts_grid_nd(
    points: DataFrame,
    d: float,
    dims: int,
    id_col: str = "id",
    features_col: str = "features",
) -> DataFrame:
    """|B(p,D)| in LOW dimension via a d-dimensional grid:
    DataFrame[id, ball_count]. The 2-D :func:`ball_counts` generalized
    with ``array<long>`` cell keys — cell side = D, every neighbor
    within D lies in the 3^dims cell neighborhood, so the equi-join on
    the cell-key array is exact after the distance filter.

    The grid is the right index when ``dims`` is small (the probe side
    replicates 3^dims ×: 27 at dims=3): cell occupancy is meaningful
    and the neighborhood is constant-size, so candidates scale with
    n·density and the shuffle key (the cell array) has no hot key.
    Past ~6 dims occupancy collapses and the replication factor
    explodes — use :func:`ball_counts_nd_ivf` (data-adaptive cells)
    there; both are exact and they share the brute-force oracle.
    """
    import itertools

    from ..functions.geometry import sq_dist_vec

    if dims < 1 or 3**dims > 1000:
        raise ValueError(f"grid method needs 1 <= dims <= 6, got {dims}")
    cell = F.transform(
        F.col(features_col),
        lambda v: F.floor(v / F.lit(float(d))).cast("long"),
    )
    base = points.select(
        F.col(id_col).alias("id"),
        F.col(features_col).alias("f"),
        cell.alias("cell"),
    )
    offsets = F.array(
        *[
            F.array(*[F.lit(o) for o in off])
            for off in itertools.product((-1, 0, 1), repeat=dims)
        ]
    )
    probe = base.select(
        "id",
        "f",
        F.explode(offsets).alias("off"),
        "cell",
    ).select(
        "id",
        "f",
        F.zip_with("cell", "off", lambda c, o: c + o).alias("ncell"),
    )
    cand = base.select(
        F.col("cell").alias("ncell"), F.col("f").alias("cf")
    )
    return (
        probe.join(cand, "ncell")
        .where(sq_dist_vec(F.col("f"), F.col("cf")) <= F.lit(d * d))
        .groupBy("id")
        .agg(F.count("*").alias("ball_count"))
    )


def exact_outliers_grid_nd(
    points: DataFrame,
    d: float,
    m: int,
    dims: int,
    id_col: str = "id",
    features_col: str = "features",
) -> DataFrame:
    """(M,D)-outliers via the low-dimensional grid index:
    DataFrame[id, ball_count] with ball_count <= M (ball includes the
    point itself). Exact — same contract as :func:`exact_outliers_nd`,
    different index (see :func:`ball_counts_grid_nd`)."""
    return ball_counts_grid_nd(
        points, d, dims, id_col, features_col
    ).where(F.col("ball_count") <= F.lit(m))


def exact_outliers_grid3_sql(d: float, m: int) -> str:
    """DuckDB twin of the registered 3-D grid-outlier query (first three
    embedding dimensions as the point set). Deliberately UNindexed — the
    plain theta self-join — so the hash match certifies the grid
    blocking finds exactly the true balls."""
    return f"""
WITH p AS (
  SELECT CAST(vec_id AS BIGINT) AS id,
         CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
),
q AS (SELECT id, v[1] AS x, v[2] AS y, v[3] AS z FROM p),
cnt AS (
  SELECT a.id, CAST(COUNT(*) AS BIGINT) AS ball_count
  FROM q a JOIN q b
    ON (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)
       + (a.z-b.z)*(a.z-b.z) <= {d!r} * {d!r}
  GROUP BY a.id
)
SELECT id, ball_count FROM cnt WHERE ball_count <= {m}
"""


def zorder_key(
    x: Column, y: Column, bits: int = 20
) -> Column:
    """Morton (Z-order) key of two non-negative quantized coordinates:
    bit i of x lands at position 2i, bit i of y at 2i+1 — a 2·bits-bit
    space-filling-curve key whose sort order keeps spatial neighbors in
    the same file/row-group ranges.

    This is the layout half of multi-dimensional data skipping (what
    Delta/Iceberg ``OPTIMIZE ZORDER BY`` does): write sorted by this
    key and min/max statistics prune BOTH dimensions on read, where a
    lexicographic (x, y) sort prunes only the leading one. Pure integer
    shifts/masks, unrolled — identical bits in any engine.

    Inputs must lie in ``[0, 2**bits - 1]``: only the low ``bits`` bits
    are interleaved, so a wider coordinate would silently alias onto the
    same key and corrupt the layout order. The expression raises at
    execution time on any out-of-range coordinate rather than alias.
    """
    xi = x.cast("long")
    yi = y.cast("long")
    limit = F.lit((1 << bits) - 1).cast("long")
    bad = (xi < 0) | (xi > limit) | (yi < 0) | (yi > limit)
    acc = F.when(
        bad,
        F.raise_error(
            F.concat(
                F.lit(
                    f"zorder_key: coordinate outside [0, 2**{bits} - 1]: "
                    "(x="
                ),
                xi.cast("string"),
                F.lit(", y="),
                yi.cast("string"),
                F.lit(")"),
            )
        ).cast("long"),
    ).otherwise(F.lit(0)).cast("long")
    for i in range(bits):
        acc = (
            acc
            + F.shiftleft(F.shiftright(xi, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(
                F.shiftright(yi, i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    return acc


def zorder_cells_topk(
    points: DataFrame,
    d: float,
    k: int,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Grid cells with their Z-order keys, top-``k`` by key:
    DataFrame[ci, cj, zkey, cnt] — the write-layout preview for the
    points table (cells ordered as a Z-order-sorted writer would place
    them). Coordinates are offset to non-negative before interleaving
    (Morton keys need unsigned inputs); the offset is the corpus min
    cell index, computed in-plan as a broadcast 1-row aggregate.
    """
    cells = cell_counts(points, d, x, y)
    mins = cells.agg(
        F.min("ci").alias("min_ci"), F.min("cj").alias("min_cj")
    )
    keyed = cells.crossJoin(F.broadcast(mins)).select(
        "ci",
        "cj",
        zorder_key(
            F.col("ci") - F.col("min_ci"), F.col("cj") - F.col("min_cj")
        ).alias("zkey"),
        "cnt",
    )
    return keyed.orderBy("zkey", "ci", "cj").limit(k)


def zorder_cells_topk_sql(d: float, k: int, bits: int = 20) -> str:
    """DuckDB twin of :func:`zorder_cells_topk` — same unrolled
    interleave, same Λ literal, same customer-point derivation as the
    p2 oracle."""
    from ..functions.geometry import grid_lambda

    terms = " + ".join(
        f"(((cix >> {i}) & 1) << {2 * i})"
        f" + (((cjx >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    )
    lam = repr(grid_lambda(d))
    return f"""
WITH cp AS (
  SELECT CAST(c_acctbal AS DOUBLE) AS x,
         CAST((c_custkey * 2654435761) % 10000 AS DOUBLE) AS y
  FROM customer
),
pts AS (
  SELECT CAST(FLOOR(x / {lam}) AS BIGINT) AS ci,
         CAST(FLOOR(y / {lam}) AS BIGINT) AS cj
  FROM cp
),
cells AS (SELECT ci, cj, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM pts GROUP BY ci, cj),
mins AS (SELECT MIN(ci) AS min_ci, MIN(cj) AS min_cj FROM cells),
keyed AS (
  SELECT ci, cj, CAST({terms} AS BIGINT) AS zkey, cnt
  FROM (SELECT ci, cj, ci - (SELECT min_ci FROM mins) AS cix,
               cj - (SELECT min_cj FROM mins) AS cjx, cnt
        FROM cells)
)
SELECT ci, cj, zkey, cnt FROM keyed ORDER BY zkey, ci, cj LIMIT {k}
"""


def zorder_key3(
    x: Column, y: Column, z: Column, bits: int = 20
) -> Column:
    """Morton (Z-order) key of THREE non-negative quantized coordinates:
    bit i of x lands at position 3i, of y at 3i+1, of z at 3i+2 — the
    3-D extension of :func:`zorder_key` (3·bits <= 60 bits, so the
    default keeps the key inside a signed 64-bit long with headroom).

    Same contract as the 2-D key: inputs must lie in
    ``[0, 2**bits - 1]`` and the expression raises at execution time on
    any out-of-range coordinate rather than silently alias. Pure
    unrolled integer shifts/masks — identical bits in any engine.
    """
    if 3 * bits > 62:
        raise ValueError(
            f"zorder_key3: 3*bits = {3 * bits} exceeds the signed-long "
            "key width; use bits <= 20"
        )
    xi, yi, zi = x.cast("long"), y.cast("long"), z.cast("long")
    limit = F.lit((1 << bits) - 1).cast("long")
    bad = (
        (xi < 0) | (xi > limit)
        | (yi < 0) | (yi > limit)
        | (zi < 0) | (zi > limit)
    )
    acc = F.when(
        bad,
        F.raise_error(
            F.concat(
                F.lit(
                    f"zorder_key3: coordinate outside [0, 2**{bits} - 1]:"
                    " (x="
                ),
                xi.cast("string"),
                F.lit(", y="),
                yi.cast("string"),
                F.lit(", z="),
                zi.cast("string"),
                F.lit(")"),
            )
        ).cast("long"),
    ).otherwise(F.lit(0)).cast("long")
    for i in range(bits):
        acc = (
            acc
            + F.shiftleft(F.shiftright(xi, i).bitwiseAND(F.lit(1)), 3 * i)
            + F.shiftleft(
                F.shiftright(yi, i).bitwiseAND(F.lit(1)), 3 * i + 1
            )
            + F.shiftleft(
                F.shiftright(zi, i).bitwiseAND(F.lit(1)), 3 * i + 2
            )
        )
    return acc


def zorder3_cells_topk(
    points: DataFrame,
    cell: float,
    k: int,
    bits: int = 20,
) -> DataFrame:
    """3-D grid cells of a DataFrame[id, features array<double>] point
    set (first three dims, width ``cell``) with their 3-D Morton keys,
    top-``k`` by key: DataFrame[ci, cj, ck, zkey, cnt].

    The write-layout preview for a 3-column ``OPTIMIZE ZORDER`` — the
    sort order under which per-file min/max statistics prune all three
    dimensions (the 2-D measurement in STRESS.md generalizes: a
    lexicographic (ci, cj, ck) sort prunes only the leading axis).
    Coordinates are offset to non-negative in-plan via a broadcast
    1-row min aggregate, exactly like the 2-D variant.
    """
    cells = (
        points.select(
            F.floor(F.element_at("features", 1) / cell).alias("ci"),
            F.floor(F.element_at("features", 2) / cell).alias("cj"),
            F.floor(F.element_at("features", 3) / cell).alias("ck"),
        )
        .groupBy("ci", "cj", "ck")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    mins = cells.agg(
        F.min("ci").alias("mi"),
        F.min("cj").alias("mj"),
        F.min("ck").alias("mk"),
    )
    keyed = cells.crossJoin(F.broadcast(mins)).select(
        "ci",
        "cj",
        "ck",
        zorder_key3(
            F.col("ci") - F.col("mi"),
            F.col("cj") - F.col("mj"),
            F.col("ck") - F.col("mk"),
            bits=bits,
        ).alias("zkey"),
        "cnt",
    )
    return keyed.orderBy("zkey", "ci", "cj", "ck").limit(k)


def zorder3_cells_topk_sql(cell: float, k: int, bits: int = 20) -> str:
    """DuckDB twin of :func:`zorder3_cells_topk` — same unrolled 3-way
    interleave over the embeddings table's first three dimensions."""
    terms = " + ".join(
        f"(((cix >> {i}) & 1) << {3 * i})"
        f" + (((cjx >> {i}) & 1) << {3 * i + 1})"
        f" + (((ckx >> {i}) & 1) << {3 * i + 2})"
        for i in range(bits)
    )
    c = repr(cell)
    return f"""
WITH p AS (
  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
pts AS (
  SELECT CAST(FLOOR(v[1] / {c}) AS BIGINT) AS ci,
         CAST(FLOOR(v[2] / {c}) AS BIGINT) AS cj,
         CAST(FLOOR(v[3] / {c}) AS BIGINT) AS ck
  FROM p
),
cells AS (SELECT ci, cj, ck, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM pts GROUP BY ci, cj, ck),
mins AS (SELECT MIN(ci) AS mi, MIN(cj) AS mj, MIN(ck) AS mk FROM cells),
keyed AS (
  SELECT ci, cj, ck, CAST({terms} AS BIGINT) AS zkey, cnt
  FROM (SELECT ci, cj, ck,
               ci - (SELECT mi FROM mins) AS cix,
               cj - (SELECT mj FROM mins) AS cjx,
               ck - (SELECT mk FROM mins) AS ckx, cnt
        FROM cells)
)
SELECT ci, cj, ck, zkey, cnt FROM keyed
ORDER BY zkey, ci, cj, ck LIMIT {k}
"""

def hilbert_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Hilbert-curve key of two non-negative quantized coordinates —
    the locality-preserving alternative to the Morton key
    (:func:`zorder_key`): consecutive key values are always
    grid-adjacent cells (Morton jumps across the whole plane at
    quadrant boundaries), so a file holding a contiguous key range is
    a tighter box and min/max pruning skips more files for the same
    box query (why Delta's liquid clustering moved from Z-order to
    Hilbert).

    The classic xy2d recurrence rotates/reflects the frame once per
    bit plane, so the state at plane ``i`` depends on every plane
    above it. Unrolling that into nested CASE expressions would double
    the expression tree per plane (2**bits nodes); instead the fold
    runs as a JVM higher-order ``aggregate`` over the descending
    bit-plane weights with a ``struct(x, y, d)`` accumulator — plan
    size O(1), runtime O(bits) per row, pure integer arithmetic that
    produces identical bits in any engine (the DuckDB twin is the same
    recurrence as a recursive CTE).

    Inputs must lie in ``[0, 2**bits - 1]``; the expression raises at
    execution time on out-of-range coordinates rather than alias, the
    :func:`zorder_key` contract.
    """
    if 2 * bits > 62:
        raise ValueError(
            f"hilbert_key: 2*bits = {2 * bits} exceeds the signed-long "
            "key width; use bits <= 31"
        )
    n = 1 << bits
    xi, yi = x.cast("long"), y.cast("long")
    limit = F.lit(n - 1).cast("long")
    bad = (xi < 0) | (xi > limit) | (yi < 0) | (yi > limit)
    checked_x = F.when(
        bad,
        F.raise_error(
            F.concat(
                F.lit(
                    f"hilbert_key: coordinate outside [0, 2**{bits} - 1]"
                    ": (x="
                ),
                xi.cast("string"),
                F.lit(", y="),
                yi.cast("string"),
                F.lit(")"),
            )
        ).cast("long"),
    ).otherwise(xi)
    planes = F.array(
        *[F.lit(1 << i).cast("long") for i in range(bits - 1, -1, -1)]
    )
    init = F.struct(
        checked_x.alias("x"),
        yi.alias("y"),
        F.lit(0).cast("long").alias("d"),
    )
    top = F.lit(n - 1).cast("long")

    def _step(acc: Column, s: Column) -> Column:
        rx_set = acc["x"].bitwiseAND(s) > 0
        ry_set = acc["y"].bitwiseAND(s) > 0
        one = F.lit(1).cast("long")
        zero = F.lit(0).cast("long")
        rx = F.when(rx_set, one).otherwise(zero)
        ry = F.when(ry_set, one).otherwise(zero)
        d2 = acc["d"] + s * s * (rx * F.lit(3)).bitwiseXOR(ry)
        flip = (~ry_set) & rx_set
        fx = F.when(flip, top - acc["x"]).otherwise(acc["x"])
        fy = F.when(flip, top - acc["y"]).otherwise(acc["y"])
        return F.struct(
            F.when(~ry_set, fy).otherwise(fx).alias("x"),
            F.when(~ry_set, fx).otherwise(fy).alias("y"),
            d2.alias("d"),
        )

    return F.aggregate(planes, init, _step, lambda acc: acc["d"])


def hilbert_cells_topk(
    points: DataFrame,
    d: float,
    k: int,
    x: str = "x",
    y: str = "y",
    bits: int = 16,
) -> DataFrame:
    """Grid cells with their Hilbert keys, top-``k`` by key:
    DataFrame[ci, cj, hkey, cnt] — the write-layout preview for a
    Hilbert-clustered writer, the locality-tightened sibling of
    :func:`zorder_cells_topk` (same cell grid, same in-plan broadcast
    min offset, keys from :func:`hilbert_key`)."""
    cells = cell_counts(points, d, x, y)
    mins = cells.agg(
        F.min("ci").alias("min_ci"), F.min("cj").alias("min_cj")
    )
    keyed = cells.crossJoin(F.broadcast(mins)).select(
        "ci",
        "cj",
        hilbert_key(
            F.col("ci") - F.col("min_ci"),
            F.col("cj") - F.col("min_cj"),
            bits=bits,
        ).alias("hkey"),
        "cnt",
    )
    return keyed.orderBy("hkey", "ci", "cj").limit(k)


def hilbert_cells_topk_sql(d: float, k: int, bits: int = 16) -> str:
    """DuckDB twin of :func:`hilbert_cells_topk` — the same per-plane
    rotate/reflect recurrence run as a recursive CTE (one iteration per
    bit plane, terminating when the plane weight reaches zero)."""
    from ..functions.geometry import grid_lambda

    lam = repr(grid_lambda(d))
    n = 1 << bits
    return f"""
WITH RECURSIVE cp AS (
  SELECT CAST(c_acctbal AS DOUBLE) AS x,
         CAST((c_custkey * 2654435761) % 10000 AS DOUBLE) AS y
  FROM customer
),
pts AS (
  SELECT CAST(FLOOR(x / {lam}) AS BIGINT) AS ci,
         CAST(FLOOR(y / {lam}) AS BIGINT) AS cj
  FROM cp
),
cells AS (SELECT ci, cj, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM pts GROUP BY ci, cj),
mins AS (SELECT MIN(ci) AS min_ci, MIN(cj) AS min_cj FROM cells),
hil AS (
  SELECT ci, cj, cnt,
         ci - (SELECT min_ci FROM mins) AS hx,
         cj - (SELECT min_cj FROM mins) AS hy,
         CAST(0 AS BIGINT) AS d,
         CAST({n >> 1} AS BIGINT) AS s
  FROM cells
  UNION ALL
  SELECT ci, cj, cnt,
         CASE WHEN (hy & s) = 0
              THEN CASE WHEN (hx & s) > 0 THEN {n - 1} - hy ELSE hy END
              ELSE hx END AS hx,
         CASE WHEN (hy & s) = 0
              THEN CASE WHEN (hx & s) > 0 THEN {n - 1} - hx ELSE hx END
              ELSE hy END AS hy,
         d + s * s * xor(3 * (CASE WHEN (hx & s) > 0 THEN 1 ELSE 0 END),
                         (CASE WHEN (hy & s) > 0 THEN 1 ELSE 0 END))
           AS d,
         CAST(s // 2 AS BIGINT) AS s
  FROM hil
  WHERE s > 0
)
SELECT ci, cj, d AS hkey, cnt FROM hil
WHERE s = 0
ORDER BY hkey, ci, cj LIMIT {k}
"""
