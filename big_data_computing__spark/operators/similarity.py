"""Similarity search over embedding columns (array<float>).

Training-data-pipeline extension: approximate-nearest-neighbor search on
the `embeddings` table. Three tiers:

1. :func:`cosine_topk` — brute-force exact top-k, the correctness
   baseline. Catalyst-only (zip_with/aggregate dot products), oracle-
   checked against DuckDB's list functions.
2. :func:`hyperplane_lsh_topk` — random-hyperplane (sign) LSH: 60-bit
   sketch via deterministic md5-derived hyperplanes, candidates = vectors
   sharing a sketch band, exact re-rank within candidates. Fully
   deterministic → also oracle-checkable in SQL.
3. :func:`ivf_topk` — IVF-style: k-center coarse quantizer (reuses the
   engine's MRFFT, operators/clustering.py), probes the nearest
   ``nprobe`` cells only. The 100 TB scale path: candidate set shrinks by
   ~|cells|/nprobe and the centroid assignment is a vectorized matmul.

Scale notes: brute force is O(nq·n·d) — fine for re-ranking buckets,
wrong as the primary plan; both ANN variants bound the join fan-out by
bucketing, which is the part that must survive a 1000-executor corpus.
Embedding-cosine near-dup dedup is :func:`cosine_topk` with queries =
corpus and a threshold instead of k (see cosine_near_pairs).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import hash60
from ..functions.vectors import as_double_vec, block_dot, dot, dot_vec, norm


def _vec_df(emb: DataFrame) -> DataFrame:
    """embeddings → DataFrame[vid long, v array<double>, nrm double].

    The L2 norm is computed once per vector here so pairwise scoring does
    dot(a,b)/(nrm_a·nrm_b) — identical float expression shape to the SQL
    oracle but without recomputing two norms per pair (3× less array
    arithmetic in the O(n²) stage).
    """
    return emb.select(
        F.col("vec_id").cast("long").alias("vid"),
        as_double_vec(F.col("embedding")).alias("v"),
    ).withColumn("nrm", norm(F.col("v")))


# ---------------------------------------------------------------------------
# Cell-pair-grouped exact rescore (r11, guide §8 "move heavy bytes
# once"): the r10 shape scored candidate PAIRS — every pair row carried
# both full vectors through the join and across the Arrow boundary, so
# the dominant job of the blocked/celled paths was transferring each
# vector once per candidate pair (~|cell_a|·|cell_b| copies per cell
# pair). The grouped rescore ships each vector once per neighbor CELL
# (cogroup on the cell-pair id), folds the whole block with the
# bit-identical strict-fold kernel (vectors.block_dot), and emits only
# (id, id, raw-score) rows; the 6-dp rounding and the threshold filter
# stay in Catalyst on those narrow rows, so the final scores are the
# same expression as before. The Python-side prefilter keeps
# raw >= threshold - 1e-6: |round(x, 6) - x| <= 5e-7, so every pair the
# rounded filter accepts survives the prefilter (margin 2×), and the
# exact filter re-applies on the rounded value.
# ---------------------------------------------------------------------------

_PAIR_RAW_SCHEMA = "vec_a long, vec_b long, raw double"
_TOPK_RAW_SCHEMA = "query_id long, vec_id long, raw double"


def _clean_block(pdf, id_col, v_col, nrm_col):
    """(ids, X, nrm) numpy views of one group's rows, dropping NULL
    vectors (a null embedding's Catalyst score is NULL, which every
    caller's filter/ranking discards — same contract as dot_vec's
    null mask)."""
    vv = pdf[v_col].to_numpy()
    keep = np.array([x is not None for x in vv], dtype=bool)
    if not keep.all():
        pdf = pdf[keep]
    ids = pdf[id_col].to_numpy(dtype=np.int64)
    if len(ids) == 0:
        return ids, np.zeros((0, 0)), np.zeros(0)
    X = np.asarray(pdf[v_col].tolist(), dtype=np.float64)
    nrm = pdf[nrm_col].to_numpy(dtype=np.float64)
    return ids, X, nrm


def _emit_pairs(ia, X, na, ib, Y, nb, diag, margin):
    """Score an A-block against a B-block and emit canonical
    (vec_a < vec_b) pair rows with raw >= margin. ``diag`` = the two
    blocks are the same cell: restrict to the strict upper triangle by
    id (each unordered pair once); off-diagonal blocks are disjoint id
    sets, so every cross pair is emitted once, canonically oriented
    (score is bitwise symmetric: per-element products commute and the
    fold order is the same j sequence)."""
    empty = pd.DataFrame(
        {
            "vec_a": np.array([], dtype=np.int64),
            "vec_b": np.array([], dtype=np.int64),
            "raw": np.array([], dtype=np.float64),
        }
    )
    if len(ia) == 0 or len(ib) == 0:
        return empty
    outs = []
    for s, acc in block_dot(X, Y):
        m = acc.shape[0]
        raw = acc / np.multiply.outer(na[s : s + m], nb)
        va = ia[s : s + m][:, None]
        vb = ib[None, :]
        keep = (va < vb) if diag else (va != vb)
        keep &= raw >= margin
        r, c = np.nonzero(keep)
        if len(r):
            aa = ia[s + r]
            bb = ib[c]
            outs.append(
                pd.DataFrame(
                    {
                        "vec_a": np.minimum(aa, bb),
                        "vec_b": np.maximum(aa, bb),
                        "raw": raw[r, c],
                    }
                )
            )
    if not outs:
        return empty
    return pd.concat(outs, ignore_index=True)


def _pair_block_scorer(threshold: float):
    """Cogroup scorer for cell-PAIR groups: left rows carry a constant
    ``diag`` flag (cell pair (i, i))."""
    margin = threshold - 1e-6

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return _emit_pairs(
                np.array([], dtype=np.int64), None, None,
                np.array([], dtype=np.int64), None, None, False, margin,
            )
        diag = bool(left["diag"].iloc[0])
        ia, X, na = _clean_block(left, "vid", "v", "nrm")
        ib, Y, nb = _clean_block(right, "bvid", "bv", "bnrm")
        return _emit_pairs(ia, X, na, ib, Y, nb, diag, margin)

    return score


def _within_block_scorer(threshold: float):
    """Single-group scorer for WITHIN-cell pairs (each vector ships
    exactly once; the group scores its own upper triangle)."""
    margin = threshold - 1e-6

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, X, nrm = _clean_block(pdf, "vid", "v", "nrm")
        return _emit_pairs(ids, X, nrm, ids, X, nrm, True, margin)

    return score


def _topk_block_scorer():
    """Cogroup scorer for query-vs-cell top-k candidates: emits EVERY
    (query, vector) candidate score in the cell (the top-k ranking
    needs them all — round + window stay in Catalyst)."""

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": np.array([], dtype=np.int64),
                "vec_id": np.array([], dtype=np.int64),
                "raw": np.array([], dtype=np.float64),
            }
        )
        if len(left) == 0 or len(right) == 0:
            return empty
        iq, Q, nq = _clean_block(left, "qid", "qv", "qnrm")
        ib, Y, nb = _clean_block(right, "vid", "v", "nrm")
        if len(iq) == 0 or len(ib) == 0:
            return empty
        outs = []
        for s, acc in block_dot(Q, Y):
            m = acc.shape[0]
            raw = acc / np.multiply.outer(nq[s : s + m], nb)
            keep = iq[s : s + m][:, None] != ib[None, :]
            r, c = np.nonzero(keep)
            if len(r):
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": iq[s + r],
                            "vec_id": ib[c],
                            "raw": raw[r, c],
                        }
                    )
                )
        if not outs:
            return empty
        return pd.concat(outs, ignore_index=True)

    return score


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame | None = None,
    k: int = 5,
) -> DataFrame:
    """Exact brute-force cosine top-k: DataFrame[query_id, vec_id, score].

    ``queries`` defaults to the corpus itself (self-search, excluding the
    identical id). Score rounded to 6 dp; ties broken by vec_id so the
    result is total-order deterministic.
    """
    base = _vec_df(emb)
    q = (
        _vec_df(queries) if queries is not None else base
    ).select(
        F.col("vid").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        q.crossJoin(base)
        .where(F.col("qid") != F.col("vid"))
        .select(
            F.col("qid").alias("query_id"),
            F.col("vid").alias("vec_id"),
            F.round(
                dot_vec(F.col("qv"), F.col("v"))
                / (F.col("qnrm") * F.col("nrm")),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .drop("rk")
    )


def cosine_topk_sql(k: int = 5, query_filter: str = "TRUE") -> str:
    """DuckDB twin of :func:`cosine_topk` (self-search form)."""
    return f"""
WITH v AS (
  SELECT CAST(vec_id AS BIGINT) AS vid,
         CAST(embedding AS DOUBLE[]) AS vec
  FROM embeddings
),
q AS (SELECT vid AS qid, vec AS qvec FROM v WHERE {query_filter}),
scored AS (
  SELECT q.qid AS query_id, v.vid AS vec_id,
         ROUND(list_dot_product(q.qvec, v.vec)
               / (sqrt(list_dot_product(q.qvec, q.qvec))
                  * sqrt(list_dot_product(v.vec, v.vec))), 6) AS score
  FROM q CROSS JOIN v WHERE q.qid <> v.vid
),
ranked AS (
  SELECT *, row_number() OVER
    (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rk
  FROM scored
)
SELECT query_id, vec_id, score FROM ranked WHERE rk <= {k}
"""


def cosine_near_pairs(emb: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: DataFrame[vec_a, vec_b,
    score] with vec_a < vec_b and cosine ≥ threshold (the embedding
    near-dup dedup operator)."""
    base = _vec_df(emb)
    a = base.select(
        F.col("vid").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = base.select(
        F.col("vid").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    return (
        a.crossJoin(b)
        .where(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(
                dot_vec(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
                6,
            ).alias("score"),
        )
        .where(F.col("score") >= F.lit(threshold))
    )


def cosine_near_pairs_blocked(
    emb: DataFrame,
    threshold: float = 0.9,
    n_cells: int = 8,
    l: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs via IVF-cell candidate pruning — EXACT,
    and the scale path for :func:`cosine_near_pairs` (which stays as the
    all-pairs correctness baseline).

    Reduction: for unit vectors, cos(a,b) ≥ t ⟺ ‖â − b̂‖² ≤ 2 − 2t, so
    cosine near-dup search is a fixed-radius L2 search on the normalized
    vectors — the same problem :func:`ball_counts_nd_ivf` solves. The
    corpus is quantized into k-center cells (the engine's own MRFFT on
    the normalized vectors); a cell pair (i, j) can contain a qualifying
    pair only if dist(cᵢ, cⱼ) ≤ rᵢ + rⱼ + D (triangle inequality, with
    rᵢ the cell's covering radius), so only those cell pairs join. The
    final filter recomputes the exact rounded cosine with the identical
    expression shape as the brute path — output sets are equal by
    construction (asserted in tests), and the oracle is shared.

    Scale: one shuffle assigns cells; the join touches only
    radius-adjacent cell pairs (≈ local density × n), not n². The margin
    1e-6 on the radius covers the 6-dp score rounding plus float slop in
    the normalized-space bound.
    """
    import math

    from .clustering import (
        assign_clusters,
        min_dist_to_centers,
        mr_fft_centers,
    )

    d_thresh = math.sqrt(max(2.0 - 2.0 * (threshold - 1e-6), 0.0))
    base = _vec_df(emb)
    unit = base.select(
        "vid",
        "v",
        "nrm",
        F.transform(F.col("v"), lambda x: x / F.col("nrm")).alias("u"),
    )
    centers = mr_fft_centers(
        unit.select(F.col("vid").alias("id"), F.col("u").alias("features")),
        k=n_cells,
        l=l,
        seed=seed,
    )
    # read 3× (radii collect + both join sides); localCheckpoint so the
    # blocks are freed when the result DataFrame is GC'd — cache() here
    # leaked storage across repeated operator calls in one session
    assigned = assign_clusters(
        min_dist_to_centers(unit, centers, features_col="u"),
        centers,
        features_col="u",
    ).localCheckpoint()
    radii_rows = (
        assigned.groupBy("cluster").agg(F.max("min_dist").alias("r")).collect()
    )
    radii = np.zeros(len(centers))
    for row in radii_rows:
        radii[row["cluster"]] = row["r"]
    cdist = np.sqrt(
        np.maximum(
            ((centers[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2),
            0.0,
        )
    )
    spark = emb.sparkSession
    # UNORDERED surviving cell pairs (i <= j): the r10 shape kept both
    # orientations and filtered vec_a < vec_b per pair row; the grouped
    # rescore scores each unordered cell pair once and canonicalizes
    # ids inside the kernel — half the shipped rows, same pair set
    cell_pairs = [
        (int(i), int(j))
        for i in range(len(centers))
        for j in range(i, len(centers))
        if cdist[i, j] <= radii[i] + radii[j] + d_thresh + 1e-9
    ]
    cp = spark.createDataFrame(
        [(p, i, j) for p, (i, j) in enumerate(cell_pairs)],
        "p int, ca int, cb int",
    )
    # cell-pair-grouped exact rescore (r11, guide §8): each vector
    # crosses the shuffle + Arrow boundary once per NEIGHBOR CELL PAIR
    # it participates in, never once per candidate pair; scores come
    # from the bit-identical strict-fold block kernel, and the 6-dp
    # round + threshold stay in Catalyst (see _pair_block_scorer)
    a_side = assigned.join(
        F.broadcast(
            cp.select(
                "p",
                F.col("ca").alias("cluster"),
                (F.col("ca") == F.col("cb")).alias("diag"),
            )
        ),
        "cluster",
    ).select("p", "diag", "vid", "v", "nrm")
    # disjoint column names on the b-side: both sides derive from the
    # same `assigned` checkpoint, and the self-cogroup is ambiguous to
    # the analyzer if the attribute names collide
    b_side = assigned.join(
        F.broadcast(cp.select(F.col("p").alias("bp"), F.col("cb").alias("cluster"))),
        "cluster",
    ).select(
        "bp",
        F.col("vid").alias("bvid"),
        F.col("v").alias("bv"),
        F.col("nrm").alias("bnrm"),
    )
    pairs = (
        a_side.groupBy("p")
        .cogroup(b_side.groupBy("bp"))
        .applyInPandas(_pair_block_scorer(threshold), _PAIR_RAW_SCHEMA)
    )
    return pairs.select(
        "vec_a", "vec_b", F.round(F.col("raw"), 6).alias("score")
    ).where(F.col("score") >= F.lit(threshold))


def cosine_near_pairs_sql(threshold: float = 0.9) -> str:
    return f"""
WITH v AS (
  SELECT CAST(vec_id AS BIGINT) AS vid,
         CAST(embedding AS DOUBLE[]) AS vec
  FROM embeddings
)
SELECT a.vid AS vec_a, b.vid AS vec_b,
       ROUND(list_dot_product(a.vec, b.vec)
             / (sqrt(list_dot_product(a.vec, a.vec))
                * sqrt(list_dot_product(b.vec, b.vec))), 6) AS score
FROM v a JOIN v b ON a.vid < b.vid
WHERE ROUND(list_dot_product(a.vec, b.vec)
            / (sqrt(list_dot_product(a.vec, a.vec))
               * sqrt(list_dot_product(b.vec, b.vec))), 6) >= {threshold!r}
"""


# ---------------------------------------------------------------------------
# Hyperplane LSH
# ---------------------------------------------------------------------------

LSH_BITS = 16
LSH_BANDS = 4  # 4 × 4-bit bands


def _hyperplane(bit: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: component j derived from
    md5-like integer mixing of (bit, j), mapped to [-1, 1]. Matches the
    SQL twin exactly (pure integer arithmetic, no float RNG)."""
    comps = []
    for j in range(dim):
        h = (bit * 1000003 + j * 7919 + 12345) * 2654435761 % (2**31)
        comps.append(h / float(2**30) - 1.0)
    return comps


def sign_sketch(emb: DataFrame, dim: int, bits: int = LSH_BITS) -> DataFrame:
    """Random-hyperplane sign sketch: DataFrame[vid, v, sketch long].

    One (batch × planes) matmul per Arrow batch — bits·dim multiplies per
    row fused into BLAS instead of bits separate Catalyst aggregate
    expressions (which codegen poorly at dim=64).
    """
    planes = np.array(
        [_hyperplane(b, dim) for b in range(bits)], dtype=np.float64
    )

    def compute(batch):
        x = np.array(batch.tolist(), dtype=np.float64)
        out = np.zeros(len(x), dtype=np.int64)
        # element-sequential accumulation (not BLAS matmul): the float
        # sum order matches DuckDB's list_dot_product exactly, so the
        # sign test — and therefore the sketch — is bit-identical to the
        # SQL oracle even for near-zero dots
        for b in range(bits):
            acc = np.zeros(len(x))
            for j in range(dim):
                acc += x[:, j] * planes[b, j]
            out |= (acc > 0).astype(np.int64) << b
        return pd.Series(out)

    compute.__annotations__ = {"batch": pd.Series, "return": pd.Series}

    udf = F.pandas_udf(compute, T.LongType())
    return _vec_df(emb).withColumn("sketch", udf(F.col("v")))


def hyperplane_lsh_topk(
    emb: DataFrame,
    dim: int,
    k: int = 5,
    bits: int = LSH_BITS,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """ANN top-k via sign-LSH banding + exact re-rank:
    DataFrame[query_id, vec_id, score]. Recall < 1 by design; candidates
    are pairs sharing >= 1 of the ``bands`` sketch bands. More bands of
    fewer bits each = looser buckets (higher recall, more candidates);
    the sweep tool measures the trade (``ann_sweep.py --bands``)."""
    if bits % bands:
        raise ValueError(
            f"hyperplane_lsh_topk: bands ({bands}) must divide "
            f"bits ({bits}) evenly"
        )
    width = bits // bands
    sk = sign_sketch(emb, dim, bits)
    bucketed = sk.select(
        "vid",
        "v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (
                            F.shiftright(F.col("sketch"), b * width)
                            % F.lit(2**width)
                        ).alias("bval"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(
        "vid", "v", F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval")
    )
    left = bucketed.select("band", "bval", F.col("vid").alias("qid"))
    right = bucketed.select("band", "bval", F.col("vid").alias("cid"))
    # dedup candidate id-pairs first (cheap fixed-width shuffle), then
    # fetch vectors once per surviving pair
    cands = (
        left.join(right, ["band", "bval"])
        .where(F.col("qid") != F.col("cid"))
        .select("qid", "cid")
        .distinct()
    )
    base = _vec_df(emb)
    qside = base.select(
        F.col("vid").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    cside = base.select(
        F.col("vid").alias("cid"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )
    scored = (
        cands.join(qside, "qid")
        .join(cside, "cid")
        .select(
            F.col("qid").alias("query_id"),
            F.col("cid").alias("vec_id"),
            F.round(
                dot_vec(F.col("qv"), F.col("cv"))
                / (F.col("qnrm") * F.col("cnrm")),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .drop("rk")
    )


def ivf_topk_sql(
    k: int,
    centers: list[list[float]],
    nprobe: int = 2,
) -> str:
    """DuckDB twin of :func:`ivf_topk` given the engine's quantizer
    centers as literals (the MRFFT quantizer is deterministic at a fixed
    scale factor, so the centers are pinnable constants — see
    tools/gen_fft_golden.py). Replicates cell assignment (argmin with
    lower-cell tie-break), nprobe probing, and exact re-rank."""
    cvals = ", ".join(
        f"({i}, [" + ", ".join(repr(float(v)) for v in cv) + "])"
        for i, cv in enumerate(centers)
    )
    return f"""
WITH v AS (
  SELECT CAST(vec_id AS BIGINT) AS vid,
         CAST(embedding AS DOUBLE[]) AS vec
  FROM embeddings
),
c AS (SELECT * FROM (VALUES {cvals}) t(cell, cvec)),
d AS (
  SELECT v.vid, c.cell,
         list_dot_product(v.vec, v.vec)
           - 2 * list_dot_product(v.vec, c.cvec)
           + list_dot_product(c.cvec, c.cvec) AS d2
  FROM v CROSS JOIN c
),
rc AS (
  SELECT vid, cell,
         row_number() OVER (PARTITION BY vid ORDER BY d2, cell) AS rk
  FROM d
),
corpus AS (SELECT vid, cell FROM rc WHERE rk = 1),
probes AS (SELECT vid AS qid, cell FROM rc WHERE rk <= {nprobe}),
scored AS (
  SELECT p.qid AS query_id, co.vid AS vec_id,
         ROUND(list_dot_product(qv.vec, cv.vec)
               / (sqrt(list_dot_product(qv.vec, qv.vec))
                  * sqrt(list_dot_product(cv.vec, cv.vec))), 6) AS score
  FROM probes p
  JOIN corpus co ON p.cell = co.cell AND p.qid <> co.vid
  JOIN v qv ON qv.vid = p.qid
  JOIN v cv ON cv.vid = co.vid
),
ranked AS (
  SELECT *, row_number() OVER
    (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rk
  FROM scored
)
SELECT query_id, vec_id, score FROM ranked WHERE rk <= {k}
"""


def hyperplane_lsh_topk_sql(
    k: int = 5, dim: int = 64, bits: int = LSH_BITS
) -> str:
    """DuckDB twin of :func:`hyperplane_lsh_topk`.

    The hyperplanes are pure integer arithmetic (no float RNG), so SQL
    regenerates them exactly; the sketch, banding, candidate join, and
    re-rank replicate the engine's plan bit-for-bit (the engine's sign
    kernel accumulates element-sequentially to match list_dot_product).
    """
    width = bits // LSH_BANDS
    return f"""
WITH v AS (
  SELECT CAST(vec_id AS BIGINT) AS vid,
         CAST(embedding AS DOUBLE[]) AS vec
  FROM embeddings
),
planes AS (
  SELECT bit, list(w ORDER BY j) AS pl FROM (
    SELECT t1.range AS bit, t2.range AS j,
           CAST(((t1.range * 1000003 + t2.range * 7919 + 12345)
                 * 2654435761) % 2147483648 AS DOUBLE)
             / 1073741824.0 - 1.0 AS w
    FROM range({bits}) t1, range({dim}) t2
  ) GROUP BY bit
),
sk AS (
  SELECT vid,
         CAST(SUM(CASE WHEN list_dot_product(v.vec, p.pl) > 0
                       THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
              AS BIGINT) AS sketch
  FROM v CROSS JOIN planes p GROUP BY vid
),
bb AS (
  SELECT vid, t.range AS band,
         (sketch >> (t.range * {width})) % {2**width} AS bval
  FROM sk, range({LSH_BANDS}) t
),
cands AS (
  SELECT DISTINCT a.vid AS qid, b.vid AS cid
  FROM bb a JOIN bb b ON a.band = b.band AND a.bval = b.bval
  WHERE a.vid <> b.vid
),
scored AS (
  SELECT qid AS query_id, cid AS vec_id,
         ROUND(list_dot_product(qv.vec, cv.vec)
               / (sqrt(list_dot_product(qv.vec, qv.vec))
                  * sqrt(list_dot_product(cv.vec, cv.vec))), 6) AS score
  FROM cands
  JOIN v qv ON qv.vid = qid
  JOIN v cv ON cv.vid = cid
),
ranked AS (
  SELECT *, row_number() OVER
    (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rk
  FROM scored
)
SELECT query_id, vec_id, score FROM ranked WHERE rk <= {k}
"""


# ---------------------------------------------------------------------------
# IVF
# ---------------------------------------------------------------------------


def build_ivf_centroids(
    emb: DataFrame, n_cells: int = 16, l: int = 4, seed: int = 42
) -> list[list[float]]:
    """Train the IVF coarse quantizer once and return its centroids as a
    plain (serializable) list — persist alongside the corpus and feed to
    :func:`ivf_topk` via ``centers=`` so repeated queries skip the MRFFT
    training jobs. Deterministic for fixed (data, params)."""
    from .clustering import mr_fft_centers

    pts = emb.select(
        F.col("vec_id").cast("long").alias("id"),
        as_double_vec(F.col("embedding")).alias("features"),
    )
    centers = mr_fft_centers(pts, k=n_cells, l=l, seed=seed)
    return [[float(v) for v in c] for c in centers]


def ivf_topk(
    emb: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 2,
    seed: int = 42,
    l: int = 4,
    centers: list[list[float]] | None = None,
    parity: bool = False,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize with the engine's own MRFFT k-center
    operator, then search only the ``nprobe`` nearest cells per query.
    DataFrame[query_id, vec_id, score].

    The scale path: the corpus shuffles once on cell id; each query joins
    against ~nprobe/n_cells of the data. Uses FFT (not k-means) for the
    quantizer because FFT is the engine's native k-center primitive and
    gives covering-radius guarantees.

    ``centers``: pretrained centroids from :func:`build_ivf_centroids`;
    when given, the quantizer-training jobs are skipped entirely (the
    index-reuse path for repeated queries against a stable corpus).

    ``parity``: see :func:`_d2_to_centers` — True only for oracle runs.
    """
    pts = emb.select(
        F.col("vec_id").cast("long").alias("id"),
        as_double_vec(F.col("embedding")).alias("features"),
    )
    if centers is None:
        from .clustering import mr_fft_centers

        centers = mr_fft_centers(pts, k=n_cells, l=l, seed=seed)
    c = np.asarray(centers, dtype=np.float64)
    probe_udf, assign_udf = _cell_probe_udfs(c, nprobe, parity)

    corpus = pts.select(
        F.col("id").alias("vid"),
        F.col("features").alias("v"),
        norm(F.col("features")).alias("nrm"),
        assign_udf("features").alias("cell"),
    )
    queries = pts.select(
        F.col("id").alias("qid"),
        F.col("features").alias("qv"),
        norm(F.col("features")).alias("qnrm"),
        F.explode(probe_udf("features")).alias("cell"),
    )
    # cell-grouped candidate scoring (r11, guide §8): the r10 shape
    # joined queries×corpus on cell and scored per candidate ROW (both
    # vectors duplicated per pair); the cogroup ships each query vector
    # once per probed cell and each corpus vector once, scores the
    # block in the strict-fold kernel, and leaves round + top-k window
    # in Catalyst on the narrow (qid, vid, raw) rows
    scored = (
        queries.groupBy("cell")
        .cogroup(corpus.groupBy("cell"))
        .applyInPandas(_topk_block_scorer(), _TOPK_RAW_SCHEMA)
        .select(
            "query_id",
            "vec_id",
            F.round(F.col("raw"), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .drop("rk")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): compressed-domain ANN scoring
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces
PQ_KS = 16  # centroids per subspace codebook
PQ_SAMPLE = 512  # training-sample size pulled to the driver
PQ_SHORTLIST = 32  # ADC candidates kept per query before exact re-rank


def _seq_dot(a: np.ndarray, b: np.ndarray) -> float:
    """Element-sequential dot product — matches DuckDB's
    list_dot_product accumulation order, so distances (and therefore
    argmin code assignment) are bit-identical to the SQL twin.
    PARITY-MODE ONLY: the production kernels use numpy matmuls
    (:func:`_d2_to_centers`)."""
    acc = 0.0
    for t in range(len(a)):
        acc += float(a[t]) * float(b[t])
    return acc


def _pq_d2(s: np.ndarray, c: np.ndarray) -> float:
    """Squared distance in the exact expression shape of the SQL twin:
    dot(s,s) - 2*dot(s,c) + dot(c,c), each dot element-sequential.
    PARITY-MODE ONLY (see :func:`_seq_dot`)."""
    return _seq_dot(s, s) - 2.0 * _seq_dot(s, c) + _seq_dot(c, c)


def _d2_to_centers(x: np.ndarray, c: np.ndarray, parity: bool) -> np.ndarray:
    """(n × |c|) squared distances between rows of ``x`` and centers ``c``
    via the x·x − 2x·c + c·c identity.

    ``parity=False`` (production default): one BLAS matmul — the fast
    path. ``parity=True``: element-sequential accumulation per dimension,
    the float shape of the SQL oracle's ``list_dot_product``, so argmin
    tie-breaks agree bit-exactly with DuckDB. The two differ only by
    float-summation order (≤ last-ulp), which can matter solely when two
    centers are at *exactly* equal distance; oracle runs use parity=True
    so the driver's hash compare is deterministic by construction.
    """
    if not parity:
        return (
            (x * x).sum(axis=1)[:, None]
            - 2.0 * (x @ c.T)
            + (c * c).sum(axis=1)[None, :]
        )
    n, dim_ = x.shape
    x_sq = np.zeros(n)
    for j in range(dim_):
        x_sq += x[:, j] * x[:, j]
    d2 = np.empty((n, len(c)))
    for kk in range(len(c)):
        c_sq = 0.0
        for j in range(dim_):
            c_sq += c[kk, j] * c[kk, j]
        dot_ = np.zeros(n)
        for j in range(dim_):
            dot_ += x[:, j] * c[kk, j]
        d2[:, kk] = x_sq - 2.0 * dot_ + c_sq
    return d2


def _cell_probe_udfs(c: np.ndarray, nprobe: int, parity: bool):
    """(probe_udf → array<long> of the ``nprobe`` nearest cells,
    assign_udf → long nearest cell) over a features column."""

    def nearest_cells(batch):
        x = np.array(batch.tolist(), dtype=np.float64)
        d2 = _d2_to_centers(x, c, parity)
        # stable sort: equal distances resolve to the lower cell index,
        # matching the oracle's ORDER BY d2, cell
        order = np.argsort(d2, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([row.tolist() for row in order.astype(np.int64)])

    def nearest_cell(batch):
        return nearest_cells(batch).map(lambda cells: cells[0])

    nearest_cells.__annotations__ = {"batch": pd.Series, "return": pd.Series}
    nearest_cell.__annotations__ = {"batch": pd.Series, "return": pd.Series}
    return (
        F.pandas_udf(nearest_cells, T.ArrayType(T.LongType())),
        F.pandas_udf(nearest_cell, T.LongType()),
    )


def _pq_code_udfs(C: np.ndarray, m: int, ks: int, parity: bool):
    """(encode_udf → array<int> of per-subspace codes, lut_udf →
    array<double> flat m·ks ADC table) for PQ codebooks ``C`` of shape
    (m, ks, dsub).

    Production path: one (batch × ks) matmul per subspace — m BLAS calls
    per Arrow batch. Parity path: the element-sequential per-vector
    loops whose accumulation order matches the SQL twin (argmin code
    ties at exactly-equal distance resolve identically to DuckDB).
    """
    dsub = C.shape[2]

    def encode(batch: pd.Series) -> pd.Series:
        if not parity:
            x = np.array(batch.tolist(), dtype=np.float64)
            codes = np.empty((len(x), m), dtype=np.int64)
            for j in range(m):
                d2 = _d2_to_centers(
                    x[:, j * dsub : (j + 1) * dsub], C[j], parity
                )
                # np.argmin returns the FIRST minimum → lower code on ties
                codes[:, j] = np.argmin(d2, axis=1)
            return pd.Series([row.tolist() for row in codes])
        out = []
        for vec in batch:
            x = np.asarray(vec, dtype=np.float64)
            codes = []
            for j in range(m):
                s = x[j * dsub : (j + 1) * dsub]
                d2s = [_pq_d2(s, C[j, c]) for c in range(ks)]
                codes.append(int(np.argmin(d2s)))
            out.append(codes)
        return pd.Series(out)

    def lut(batch: pd.Series) -> pd.Series:
        if not parity:
            x = np.array(batch.tolist(), dtype=np.float64)
            flat = np.concatenate(
                [
                    _d2_to_centers(
                        x[:, j * dsub : (j + 1) * dsub], C[j], parity
                    )
                    for j in range(m)
                ],
                axis=1,
            )
            return pd.Series([row.tolist() for row in flat])
        out = []
        for vec in batch:
            x = np.asarray(vec, dtype=np.float64)
            flat = []
            for j in range(m):
                s = x[j * dsub : (j + 1) * dsub]
                flat.extend(_pq_d2(s, C[j, c]) for c in range(ks))
            out.append(flat)
        return pd.Series(out)

    encode.__annotations__ = {"batch": pd.Series, "return": pd.Series}
    lut.__annotations__ = {"batch": pd.Series, "return": pd.Series}
    return (
        F.pandas_udf(encode, T.ArrayType(T.IntegerType())),
        F.pandas_udf(lut, T.ArrayType(T.DoubleType())),
    )


def train_pq_codebooks(
    emb: DataFrame,
    m: int = PQ_M,
    ks: int = PQ_KS,
    sample: int = PQ_SAMPLE,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Train PQ codebooks: the embedding dimension is split into ``m``
    contiguous subspaces and each gets a ``ks``-centroid codebook from
    the engine's seeded FFT (k-center) kernel, fitted on a deterministic
    hash-ranked sample.

    Driver data is bounded by construction (``sample`` vectors — the
    same bounded-pull pattern as the MRFFT coreset); at 100 TB the
    sample is still ``sample`` rows. Returns plain nested lists —
    serializable, pinnable as SQL literals (tools/gen_fft_golden.py),
    and reusable across queries like :func:`build_ivf_centroids`.
    """
    from .clustering import sequential_fft

    key = hash60(F.concat(F.lit("pq:"), F.col("vid").cast("string")))
    rows = (
        _vec_df(emb)
        .select("vid", "v", key.alias("_k"))
        .orderBy(F.col("_k").asc(), F.col("vid").asc())
        .limit(sample)
        .collect()
    )
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    dsub = X.shape[1] // m
    books = []
    for j in range(m):
        sub = np.ascontiguousarray(X[:, j * dsub : (j + 1) * dsub])
        cents = sequential_fft(sub, ks, seed=seed + j)
        books.append([[float(v) for v in c] for c in cents])
    return books


def pq_topk(
    emb: DataFrame,
    k: int = 5,
    m: int = PQ_M,
    ks: int = PQ_KS,
    shortlist: int = PQ_SHORTLIST,
    seed: int = 42,
    codebooks: list[list[list[float]]] | None = None,
    parity: bool = False,
) -> DataFrame:
    """Flat-PQ ADC ANN (self-search, queries = vec_id % 10 == 0):
    DataFrame[query_id, vec_id, score].

    **BASELINE, not the scale path.** The ADC stage scans queries ×
    corpus (a deliberate crossJoin — that IS flat-PQ semantics: every
    code is visited, compression comes from the codes being m bytes
    instead of d floats). Like :func:`cosine_topk` it exists as the
    correctness/recall baseline for its indexed sibling;
    :func:`ivf_pq_topk` (cell pruning *then* ADC) is the registered
    100 TB path.

    Pipeline — the compressed-scan tier of the engine's ANN stack:

    1. encode every vector as ``m`` 4-bit-ish codes (argmin centroid per
       subspace, lower index on ties) — the corpus the scan touches is
       ``m`` small ints per vector instead of d floats (64× smaller at
       d=64/m=8: the memory-bounded path when embeddings don't fit);
    2. per query, build the asymmetric-distance lookup table
       LUT[j][c] = d2(q_subj, centroid_jc) (m·ks doubles, built once);
    3. ADC scan: approx d2 of a pair = Σ_j LUT[j][code_j] — m array
       lookups + adds per pair, no float multiplies;
    4. keep ``shortlist`` candidates per query (ties → lower vec_id),
       exact-cosine re-rank, return top ``k``.

    ``parity=True`` (oracle runs only) computes codes and LUTs in the
    same float accumulation order as the DuckDB twin (:func:`_seq_dot`),
    so the operator is hash-green against SQL despite being
    approximate; the default is the vectorized numpy kernel
    (:func:`_pq_code_udfs`). Kernels are Arrow-batched pandas_udfs.
    """
    books = codebooks if codebooks is not None else train_pq_codebooks(
        emb, m=m, ks=ks, seed=seed
    )
    C = np.array(books, dtype=np.float64)  # (m, ks, dsub)
    encode_udf, lut_udf = _pq_code_udfs(C, m, ks, parity)

    base = _vec_df(emb)
    corpus = base.select("vid", "v", "nrm", encode_udf("v").alias("codes"))
    q = base.where(F.col("vid") % 10 == 0).select(
        F.col("vid").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        lut_udf("v").alias("lut"),
    )
    # ADC sum in fixed j order (left-assoc chain = the SQL twin's order)
    ad2 = None
    for j in range(m):
        term = F.element_at(
            F.col("lut"), F.lit(j * ks) + F.element_at("codes", j + 1) + 1
        )
        ad2 = term if ad2 is None else ad2 + term
    cand_w = Window.partitionBy("qid").orderBy(
        F.asc("ad2"), F.asc("vid")
    )
    cands = (
        q.crossJoin(corpus.select("vid", "codes"))
        .where(F.col("qid") != F.col("vid"))
        .select("qid", "qv", "qnrm", "vid", ad2.alias("ad2"))
        .withColumn("crk", F.row_number().over(cand_w))
        .where(F.col("crk") <= shortlist)
    )
    rerank = cands.join(base, "vid").select(
        F.col("qid").alias("query_id"),
        F.col("vid").alias("vec_id"),
        F.round(
            dot_vec(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    return (
        rerank.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .drop("rk")
    )


def pq_topk_sql(
    k: int,
    codebooks: list[list[list[float]]],
    shortlist: int = PQ_SHORTLIST,
    query_filter: str = "vid % 10 = 0",
) -> str:
    """DuckDB twin of :func:`pq_topk` with the codebooks as literals
    (pinned at sf0.01 by tools/gen_fft_golden.py). Replicates code
    assignment, LUT construction, the ADC sum (same left-assoc order),
    the shortlist cut, and the exact re-rank."""
    m = len(codebooks)
    ks = len(codebooks[0])
    dsub = len(codebooks[0][0])

    def lit(vec: list[float]) -> str:
        return "[" + ", ".join(repr(float(x)) for x in vec) + "]"

    def d2(s: str, c: list[float]) -> str:
        cc = repr(_seq_dot(np.array(c), np.array(c)))
        return (
            f"(list_dot_product({s}, {s})"
            f" - 2 * list_dot_product({s}, {lit(c)}) + {cc})"
        )

    slices = ", ".join(
        f"vec[{j * dsub + 1}:{(j + 1) * dsub}] AS s{j}" for j in range(m)
    )
    code_cols = ", ".join(
        "list_sort(["
        + ", ".join(
            f"{{'d': {d2(f's{j}', codebooks[j][c])}, 'c': {c}}}"
            for c in range(ks)
        )
        + f"])[1].c AS code{j}"
        for j in range(m)
    )
    lut_list = "[" + ", ".join(
        d2(f"s{j}", codebooks[j][c])
        for j in range(m)
        for c in range(ks)
    ) + "]"
    adc = " + ".join(
        f"q.lut[{j * ks} + c.code{j} + 1]" for j in range(m)
    )
    return f"""
WITH v AS (
  SELECT CAST(vec_id AS BIGINT) AS vid,
         CAST(embedding AS DOUBLE[]) AS vec
  FROM embeddings
),
sub AS (SELECT vid, vec, {slices} FROM v),
c AS (SELECT vid, {code_cols} FROM sub),
q AS (SELECT vid AS qid, vec AS qvec, {lut_list} AS lut
      FROM sub WHERE {query_filter}),
cand AS (
  SELECT q.qid, q.qvec, c.vid, {adc} AS ad2
  FROM q CROSS JOIN c WHERE q.qid <> c.vid
),
short AS (
  SELECT qid, qvec, vid FROM (
    SELECT *, row_number() OVER
      (PARTITION BY qid ORDER BY ad2 ASC, vid ASC) AS crk
    FROM cand
  ) WHERE crk <= {shortlist}
),
rerank AS (
  SELECT s.qid AS query_id, s.vid AS vec_id,
         ROUND(list_dot_product(s.qvec, v.vec)
               / (sqrt(list_dot_product(s.qvec, s.qvec))
                  * sqrt(list_dot_product(v.vec, v.vec))), 6) AS score
  FROM short s JOIN v ON v.vid = s.vid
)
SELECT query_id, vec_id, score FROM (
  SELECT *, row_number() OVER
    (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rk
  FROM rerank
) WHERE rk <= {k}
"""


# ---------------------------------------------------------------------------
# IVF × PQ composition: cell-pruned candidates, compressed-domain scoring
# ---------------------------------------------------------------------------


def ivf_pq_topk(
    emb: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 2,
    seed: int = 42,
    l: int = 4,
    m: int = PQ_M,
    ks: int = PQ_KS,
    shortlist: int = PQ_SHORTLIST,
    centers: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    parity: bool = False,
) -> DataFrame:
    """The full two-tier ANN index (the FAISS IVF-PQ architecture,
    rebuilt on DataFrames): DataFrame[query_id, vec_id, score].

    1. **IVF tier** — MRFFT coarse quantizer; the corpus shuffles once
       on cell id and each query touches only its ``nprobe`` nearest
       cells (candidate *pruning*: ~nprobe/n_cells of the data).
    2. **PQ tier** — within probed cells, candidates are scored from
       ``m``-byte PQ codes via the query's ADC lookup table (scan
       *compression*: no float multiplies, no full vectors touched).
    3. **Exact tier** — the ``shortlist`` best ADC candidates per query
       are re-ranked with exact cosine; top ``k`` returned.

    Both quantizers are deterministic (seeded FFT) and persistable
    (``centers=`` / ``codebooks=`` skip training — the index-reuse
    path). With ``parity=True`` (oracle runs only) every tier keeps the
    SQL twin's float accumulation order, so the *composed* index is
    hash-checkable end-to-end against SQL; the default runs the
    vectorized numpy kernels (:func:`_pq_code_udfs`).
    At 100 TB: vectors are touched exactly twice (once per quantizer
    assignment, once for the shortlist re-rank join); the ADC scan
    moves only (cell, codes) pairs — 8 bytes of payload per vector.
    """
    pts = emb.select(
        F.col("vec_id").cast("long").alias("id"),
        as_double_vec(F.col("embedding")).alias("features"),
    )
    if centers is None:
        from .clustering import mr_fft_centers

        centers = mr_fft_centers(pts, k=n_cells, l=l, seed=seed)
    books = (
        codebooks
        if codebooks is not None
        else train_pq_codebooks(emb, m=m, ks=ks, seed=seed)
    )
    c = np.asarray(centers, dtype=np.float64)
    C = np.array(books, dtype=np.float64)
    probe_udf, assign_udf = _cell_probe_udfs(c, nprobe, parity)
    encode_udf, lut_udf = _pq_code_udfs(C, m, ks, parity)

    base = pts.select(
        F.col("id").alias("vid"),
        F.col("features").alias("v"),
        norm(F.col("features")).alias("nrm"),
    )
    corpus = pts.select(
        F.col("id").alias("vid"),
        assign_udf("features").alias("cell"),
        encode_udf("features").alias("codes"),
    )
    queries = pts.select(
        F.col("id").alias("qid"),
        lut_udf("features").alias("lut"),
        F.explode(probe_udf("features")).alias("cell"),
    )
    ad2 = None
    for j in range(m):
        term = F.element_at(
            F.col("lut"), F.lit(j * ks) + F.element_at("codes", j + 1) + 1
        )
        ad2 = term if ad2 is None else ad2 + term
    cand_w = Window.partitionBy("qid").orderBy(F.asc("ad2"), F.asc("vid"))
    cands = (
        queries.join(corpus, "cell")
        .where(F.col("qid") != F.col("vid"))
        .select("qid", "vid", ad2.alias("ad2"))
        .withColumn("crk", F.row_number().over(cand_w))
        .where(F.col("crk") <= shortlist)
        .select("qid", "vid")
    )
    rerank = (
        cands.join(base, "vid")
        .join(
            base.select(
                F.col("vid").alias("qid"),
                F.col("v").alias("qv"),
                F.col("nrm").alias("qnrm"),
            ),
            "qid",
        )
        .select(
            F.col("qid").alias("query_id"),
            F.col("vid").alias("vec_id"),
            F.round(
                dot_vec(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    return (
        rerank.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .drop("rk")
    )


def ivf_pq_topk_sql(
    k: int,
    centers: list[list[float]],
    codebooks: list[list[list[float]]],
    nprobe: int = 2,
    shortlist: int = PQ_SHORTLIST,
) -> str:
    """DuckDB twin of :func:`ivf_pq_topk`: the IVF assignment CTEs of
    :func:`ivf_topk_sql` composed with the PQ code/LUT/ADC CTEs of
    :func:`pq_topk_sql`, both quantizers injected as pinned literals."""
    m = len(codebooks)
    ks = len(codebooks[0])
    dsub = len(codebooks[0][0])
    cvals = ", ".join(
        f"({i}, [" + ", ".join(repr(float(v)) for v in cv) + "])"
        for i, cv in enumerate(centers)
    )

    def lit(vec: list[float]) -> str:
        return "[" + ", ".join(repr(float(x)) for x in vec) + "]"

    def d2(s: str, cc: list[float]) -> str:
        csq = repr(_seq_dot(np.array(cc), np.array(cc)))
        return (
            f"(list_dot_product({s}, {s})"
            f" - 2 * list_dot_product({s}, {lit(cc)}) + {csq})"
        )

    slices = ", ".join(
        f"vec[{j * dsub + 1}:{(j + 1) * dsub}] AS s{j}" for j in range(m)
    )
    code_cols = ", ".join(
        "list_sort(["
        + ", ".join(
            f"{{'d': {d2(f's{j}', codebooks[j][cc])}, 'c': {cc}}}"
            for cc in range(ks)
        )
        + f"])[1].c AS code{j}"
        for j in range(m)
    )
    lut_list = (
        "["
        + ", ".join(
            d2(f"s{j}", codebooks[j][cc])
            for j in range(m)
            for cc in range(ks)
        )
        + "]"
    )
    adc = " + ".join(f"q.lut[{j * ks} + pc.code{j} + 1]" for j in range(m))
    return f"""
WITH v AS (
  SELECT CAST(vec_id AS BIGINT) AS vid,
         CAST(embedding AS DOUBLE[]) AS vec
  FROM embeddings
),
ctr AS (SELECT * FROM (VALUES {cvals}) t(cell, cvec)),
cd AS (
  SELECT v.vid, ctr.cell,
         list_dot_product(v.vec, v.vec)
           - 2 * list_dot_product(v.vec, ctr.cvec)
           + list_dot_product(ctr.cvec, ctr.cvec) AS d2
  FROM v CROSS JOIN ctr
),
rc AS (
  SELECT vid, cell,
         row_number() OVER (PARTITION BY vid ORDER BY d2, cell) AS rk
  FROM cd
),
cell_of AS (SELECT vid, cell FROM rc WHERE rk = 1),
probes AS (SELECT vid AS qid, cell FROM rc WHERE rk <= {nprobe}),
sub AS (SELECT vid, vec, {slices} FROM v),
pcodes AS (SELECT vid, {code_cols} FROM sub),
q AS (SELECT vid AS qid, {lut_list} AS lut FROM sub),
cand AS (
  SELECT p.qid, co.vid, {adc} AS ad2
  FROM probes p
  JOIN cell_of co ON p.cell = co.cell AND p.qid <> co.vid
  JOIN pcodes pc ON pc.vid = co.vid
  JOIN q ON q.qid = p.qid
),
short AS (
  SELECT qid, vid FROM (
    SELECT *, row_number() OVER
      (PARTITION BY qid ORDER BY ad2 ASC, vid ASC) AS crk
    FROM cand
  ) WHERE crk <= {shortlist}
),
rerank AS (
  SELECT s.qid AS query_id, s.vid AS vec_id,
         ROUND(list_dot_product(qv.vec, cv.vec)
               / (sqrt(list_dot_product(qv.vec, qv.vec))
                  * sqrt(list_dot_product(cv.vec, cv.vec))), 6) AS score
  FROM short s JOIN v qv ON qv.vid = s.qid JOIN v cv ON cv.vid = s.vid
)
SELECT query_id, vec_id, score FROM (
  SELECT *, row_number() OVER
    (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rk
  FROM rerank
) WHERE rk <= {k}
"""


# ---------------------------------------------------------------------------
# Residual PQ: IVF×PQ with codebooks fitted on (vector − cell centroid)
# ---------------------------------------------------------------------------


def train_pq_codebooks_residual(
    emb: DataFrame,
    centers: list[list[float]],
    m: int = PQ_M,
    ks: int = PQ_KS,
    sample: int = PQ_SAMPLE,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Train PQ codebooks on IVF *residuals* ``x − center[cell(x)]``
    (the actual FAISS IVF-PQ encoding; :func:`train_pq_codebooks` fits
    raw vectors).

    Residuals concentrate near the origin once the coarse quantizer has
    absorbed the cluster structure, so the same ``m × ks`` code budget
    spends its resolution on *within-cell* variation — tighter ADC
    distances on clustered corpora at identical index size. Same
    bounded-driver-pull contract as the raw trainer (``sample`` rows at
    any corpus scale); assignment uses the parity kernel so regenerated
    goldens are machine-independent.
    """
    from .clustering import sequential_fft

    c = np.asarray(centers, dtype=np.float64)
    key = hash60(F.concat(F.lit("pq:"), F.col("vid").cast("string")))
    rows = (
        _vec_df(emb)
        .select("vid", "v", key.alias("_k"))
        .orderBy(F.col("_k").asc(), F.col("vid").asc())
        .limit(sample)
        .collect()
    )
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    cells = np.argmin(_d2_to_centers(X, c, parity=True), axis=1)
    R = X - c[cells]
    dsub = R.shape[1] // m
    books = []
    for j in range(m):
        sub = np.ascontiguousarray(R[:, j * dsub : (j + 1) * dsub])
        cents = sequential_fft(sub, ks, seed=seed + j)
        books.append([[float(v) for v in c_] for c_ in cents])
    return books


def _rpq_code_udfs(
    c: np.ndarray, C: np.ndarray, m: int, ks: int, parity: bool
):
    """Residual-PQ kernels: (encode_udf(v, cell) → array<int> codes of
    ``v − c[cell]``, lut_udf(v, cell) → array<double> flat m·ks ADC
    table of the query's residual against that probed cell).

    Unlike the raw-PQ kernels the LUT is per (query, probed cell) — the
    residual depends on which cell is being searched — so the query side
    computes ``nprobe`` small tables instead of one. The subtraction is
    a single exact IEEE op per element, identical in both the vectorized
    and parity paths (and in the SQL twin's ``vec[i] − cvec[i]``).
    """
    dsub = C.shape[2]

    def _residuals(vb: pd.Series, cellb: pd.Series) -> np.ndarray:
        x = np.array(vb.tolist(), dtype=np.float64)
        return x - c[cellb.to_numpy(dtype=np.int64)]

    def encode(vb: pd.Series, cellb: pd.Series) -> pd.Series:
        r = _residuals(vb, cellb)
        if not parity:
            codes = np.empty((len(r), m), dtype=np.int64)
            for j in range(m):
                d2 = _d2_to_centers(
                    r[:, j * dsub : (j + 1) * dsub], C[j], parity
                )
                codes[:, j] = np.argmin(d2, axis=1)
            return pd.Series([row.tolist() for row in codes])
        out = []
        for x in r:
            codes = []
            for j in range(m):
                s = x[j * dsub : (j + 1) * dsub]
                d2s = [_pq_d2(s, C[j, cc]) for cc in range(ks)]
                codes.append(int(np.argmin(d2s)))
            out.append(codes)
        return pd.Series(out)

    def lut(vb: pd.Series, cellb: pd.Series) -> pd.Series:
        r = _residuals(vb, cellb)
        if not parity:
            flat = np.concatenate(
                [
                    _d2_to_centers(
                        r[:, j * dsub : (j + 1) * dsub], C[j], parity
                    )
                    for j in range(m)
                ],
                axis=1,
            )
            return pd.Series([row.tolist() for row in flat])
        out = []
        for x in r:
            flat = []
            for j in range(m):
                s = x[j * dsub : (j + 1) * dsub]
                flat.extend(_pq_d2(s, C[j, cc]) for cc in range(ks))
            out.append(flat)
        return pd.Series(out)

    encode.__annotations__ = {
        "vb": pd.Series, "cellb": pd.Series, "return": pd.Series
    }
    lut.__annotations__ = {
        "vb": pd.Series, "cellb": pd.Series, "return": pd.Series
    }
    return (
        F.pandas_udf(encode, T.ArrayType(T.IntegerType())),
        F.pandas_udf(lut, T.ArrayType(T.DoubleType())),
    )


def ivf_rpq_topk(
    emb: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 2,
    seed: int = 42,
    l: int = 4,
    m: int = PQ_M,
    ks: int = PQ_KS,
    shortlist: int = PQ_SHORTLIST,
    centers: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    parity: bool = False,
) -> DataFrame:
    """IVF×PQ with **residual encoding** — the full FAISS IVF-PQ design:
    DataFrame[query_id, vec_id, score].

    :func:`ivf_pq_topk` PQ-encodes raw vectors, so the codebooks spend
    resolution re-describing the cluster structure the IVF tier already
    captured. Here each corpus vector stores codes of its *residual*
    ``x − center[cell]`` and each query builds one ADC table per probed
    cell from its own residual against that cell — tighter compressed
    distances on clustered data at the same ``m``-byte code size.

    Plan shape is identical to :func:`ivf_pq_topk` (one shuffle on cell
    id, codes-only ADC scan, bounded shortlist re-rank); the only extra
    cost is ``nprobe`` LUTs per query instead of one, each m·ks doubles.
    Deterministic + persistable (``centers=``/``codebooks=``) like its
    siblings; ``parity=True`` keeps the SQL twin's float accumulation
    order for oracle runs.
    """
    pts = emb.select(
        F.col("vec_id").cast("long").alias("id"),
        as_double_vec(F.col("embedding")).alias("features"),
    )
    if centers is None:
        from .clustering import mr_fft_centers

        centers = mr_fft_centers(pts, k=n_cells, l=l, seed=seed)
    books = (
        codebooks
        if codebooks is not None
        else train_pq_codebooks_residual(emb, centers, m=m, ks=ks, seed=seed)
    )
    c = np.asarray(centers, dtype=np.float64)
    C = np.array(books, dtype=np.float64)
    probe_udf, assign_udf = _cell_probe_udfs(c, nprobe, parity)
    encode_udf, lut_udf = _rpq_code_udfs(c, C, m, ks, parity)

    base = pts.select(
        F.col("id").alias("vid"),
        F.col("features").alias("v"),
        norm(F.col("features")).alias("nrm"),
    )
    corpus = pts.withColumn("cell", assign_udf("features")).select(
        F.col("id").alias("vid"),
        "cell",
        encode_udf("features", "cell").alias("codes"),
    )
    queries = pts.select(
        F.col("id").alias("qid"),
        "features",
        F.explode(probe_udf("features")).alias("cell"),
    ).select("qid", "cell", lut_udf("features", "cell").alias("lut"))
    ad2 = None
    for j in range(m):
        term = F.element_at(
            F.col("lut"), F.lit(j * ks) + F.element_at("codes", j + 1) + 1
        )
        ad2 = term if ad2 is None else ad2 + term
    cand_w = Window.partitionBy("qid").orderBy(F.asc("ad2"), F.asc("vid"))
    cands = (
        queries.join(corpus, "cell")
        .where(F.col("qid") != F.col("vid"))
        .select("qid", "vid", ad2.alias("ad2"))
        .withColumn("crk", F.row_number().over(cand_w))
        .where(F.col("crk") <= shortlist)
        .select("qid", "vid")
    )
    rerank = (
        cands.join(base, "vid")
        .join(
            base.select(
                F.col("vid").alias("qid"),
                F.col("v").alias("qv"),
                F.col("nrm").alias("qnrm"),
            ),
            "qid",
        )
        .select(
            F.col("qid").alias("query_id"),
            F.col("vid").alias("vec_id"),
            F.round(
                dot_vec(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    return (
        rerank.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .drop("rk")
    )


def ivf_rpq_topk_sql(
    k: int,
    centers: list[list[float]],
    codebooks: list[list[list[float]]],
    nprobe: int = 2,
    shortlist: int = PQ_SHORTLIST,
    v_cte: str | None = None,
) -> str:
    """DuckDB twin of :func:`ivf_rpq_topk`: the IVF CTEs of
    :func:`ivf_pq_topk_sql` plus residual slices
    ``[vec[i] − cvec[i] FOR i IN range(...)]`` feeding the PQ
    code/LUT/ADC CTEs; query LUTs are per (qid, probed cell).

    ``v_cte`` overrides the source-vector CTE body (SELECT producing
    ``vid, vec``) — :func:`opq_ivf_rpq_topk_sql` injects the rotated
    vectors here and reuses the whole pipeline unchanged."""
    m = len(codebooks)
    ks = len(codebooks[0])
    dsub = len(codebooks[0][0])
    dim = m * dsub
    cvals = ", ".join(
        f"({i}, [" + ", ".join(repr(float(v)) for v in cv) + "])"
        for i, cv in enumerate(centers)
    )

    def lit(vec: list[float]) -> str:
        return "[" + ", ".join(repr(float(x)) for x in vec) + "]"

    def d2(s: str, cc: list[float]) -> str:
        csq = repr(_seq_dot(np.array(cc), np.array(cc)))
        return (
            f"(list_dot_product({s}, {s})"
            f" - 2 * list_dot_product({s}, {lit(cc)}) + {csq})"
        )

    rvec = f"[vec[i] - cvec[i] FOR i IN range(1, {dim + 1})]"
    slices = ", ".join(
        f"rvec[{j * dsub + 1}:{(j + 1) * dsub}] AS s{j}" for j in range(m)
    )
    code_cols = ", ".join(
        "list_sort(["
        + ", ".join(
            f"{{'d': {d2(f's{j}', codebooks[j][cc])}, 'c': {cc}}}"
            for cc in range(ks)
        )
        + f"])[1].c AS code{j}"
        for j in range(m)
    )
    lut_list = (
        "["
        + ", ".join(
            d2(f"s{j}", codebooks[j][cc])
            for j in range(m)
            for cc in range(ks)
        )
        + "]"
    )
    adc = " + ".join(f"q.lut[{j * ks} + pc.code{j} + 1]" for j in range(m))
    if v_cte is None:
        v_cte = (
            "SELECT CAST(vec_id AS BIGINT) AS vid,\n"
            "         CAST(embedding AS DOUBLE[]) AS vec\n"
            "  FROM embeddings"
        )
    return f"""
WITH v AS (
  {v_cte}
),
ctr AS (SELECT * FROM (VALUES {cvals}) t(cell, cvec)),
cd AS (
  SELECT v.vid, ctr.cell,
         list_dot_product(v.vec, v.vec)
           - 2 * list_dot_product(v.vec, ctr.cvec)
           + list_dot_product(ctr.cvec, ctr.cvec) AS d2
  FROM v CROSS JOIN ctr
),
rc AS (
  SELECT vid, cell,
         row_number() OVER (PARTITION BY vid ORDER BY d2, cell) AS rk
  FROM cd
),
cell_of AS (SELECT vid, cell FROM rc WHERE rk = 1),
probes AS (SELECT vid AS qid, cell FROM rc WHERE rk <= {nprobe}),
crsub AS (
  SELECT t.vid, t.cell, {slices} FROM (
    SELECT co.vid, co.cell, {rvec} AS rvec
    FROM cell_of co JOIN v ON v.vid = co.vid
    JOIN ctr ON ctr.cell = co.cell
  ) t
),
pcodes AS (SELECT vid, cell, {code_cols} FROM crsub),
qrsub AS (
  SELECT t.qid, t.cell, {slices} FROM (
    SELECT p.qid, p.cell, {rvec} AS rvec
    FROM probes p JOIN v ON v.vid = p.qid
    JOIN ctr ON ctr.cell = p.cell
  ) t
),
qlut AS (SELECT qid, cell, {lut_list} AS lut FROM qrsub),
cand AS (
  SELECT q.qid, pc.vid, {adc} AS ad2
  FROM qlut q
  JOIN pcodes pc ON pc.cell = q.cell AND q.qid <> pc.vid
),
short AS (
  SELECT qid, vid FROM (
    SELECT *, row_number() OVER
      (PARTITION BY qid ORDER BY ad2 ASC, vid ASC) AS crk
    FROM cand
  ) WHERE crk <= {shortlist}
),
rerank AS (
  SELECT s.qid AS query_id, s.vid AS vec_id,
         ROUND(list_dot_product(qv.vec, cv.vec)
               / (sqrt(list_dot_product(qv.vec, qv.vec))
                  * sqrt(list_dot_product(cv.vec, cv.vec))), 6) AS score
  FROM short s JOIN v qv ON qv.vid = s.qid JOIN v cv ON cv.vid = s.vid
)
SELECT query_id, vec_id, score FROM (
  SELECT *, row_number() OVER
    (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rk
  FROM rerank
) WHERE rk <= {k}
"""


# ---------------------------------------------------------------------------
# OPQ: learned orthogonal rotation before PQ (optimized product quantization)
# ---------------------------------------------------------------------------

OPQ_ITERS = 5  # alternating codebook-fit / Procrustes-rotation rounds


def train_opq(
    emb: DataFrame,
    m: int = PQ_M,
    ks: int = PQ_KS,
    sample: int = PQ_SAMPLE,
    seed: int = 42,
    iters: int = OPQ_ITERS,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Train an OPQ transform: an orthogonal rotation ``R`` plus PQ
    codebooks fitted in the rotated space (Ge et al., "Optimized
    Product Quantization", CVPR 2013 — the OPQ pre-transform FAISS
    exposes as ``OPQ<m>``).

    Plain PQ splits dimensions into ``m`` contiguous subspaces, so
    correlated / unbalanced dimensions waste code budget. OPQ
    alternates (a) fit codebooks on the rotated sample and (b) solve
    the orthogonal Procrustes problem ``min_R ||X·Rᵀ − Y||_F`` (Y =
    the codebook reconstruction) via SVD, aligning the data to the
    subspace grid. Same bounded-driver-pull contract as
    :func:`train_pq_codebooks` (``sample`` rows at any corpus scale).

    Returns ``(rotation, codebooks)`` as plain nested lists (pinnable
    as SQL literals). Determinism: the alternation is a pure function
    of (data, seed) *per BLAS/LAPACK build* — the SVD step is not
    bit-portable across platforms, so goldens are pinned per
    environment by tools/gen_fft_golden.py (which asserts same-process
    determinism), like every other golden in plans/fft_golden_sf001.py.
    """
    from .clustering import sequential_fft

    key = hash60(F.concat(F.lit("pq:"), F.col("vid").cast("string")))
    rows = (
        _vec_df(emb)
        .select("vid", "v", key.alias("_k"))
        .orderBy(F.col("_k").asc(), F.col("vid").asc())
        .limit(sample)
        .collect()
    )
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    d = X.shape[1]
    dsub = d // m
    R = np.eye(d)

    def fit_books(Xr: np.ndarray) -> np.ndarray:
        books = np.empty((m, ks, dsub))
        for j in range(m):
            sub = np.ascontiguousarray(Xr[:, j * dsub : (j + 1) * dsub])
            books[j] = sequential_fft(sub, ks, seed=seed + j)
        return books

    def reconstruct(Xr: np.ndarray, books: np.ndarray) -> np.ndarray:
        Y = np.empty_like(Xr)
        for j in range(m):
            sub = Xr[:, j * dsub : (j + 1) * dsub]
            codes = np.argmin(
                _d2_to_centers(sub, books[j], parity=False), axis=1
            )
            Y[:, j * dsub : (j + 1) * dsub] = books[j][codes]
        return Y

    books = fit_books(X)
    for _ in range(iters):
        Y = reconstruct(X @ R.T, books)
        # Procrustes: min ||X·A − Y|| over orthogonal A; A = U·Vᵀ from
        # SVD(XᵀY); the rotation applied per-vector is R = Aᵀ
        u, _s, vt = np.linalg.svd(X.T @ Y)
        R = (u @ vt).T
        books = fit_books(X @ R.T)
    return (
        [[float(v) for v in row] for row in R],
        [[[float(v) for v in c] for c in b] for b in books],
    )


def _rotate_udf(Rm: np.ndarray, parity: bool):
    """pandas_udf rotating a vector column: out[i] = Σ_j R[i][j]·x[j].

    Production: one BLAS matmul per Arrow batch. Parity: sequential-j
    accumulation per output dimension — the float order of the SQL
    twin's ``list_dot_product(vec, R_row_i)``.
    """
    def rotate(batch: pd.Series) -> pd.Series:
        x = np.array(batch.tolist(), dtype=np.float64)
        if not parity:
            return pd.Series((x @ Rm.T).tolist())
        n, d = x.shape
        out = np.empty((n, d))
        for i in range(d):
            acc = np.zeros(n)
            for j in range(d):
                acc += x[:, j] * Rm[i, j]
            out[:, i] = acc
        return pd.Series(out.tolist())

    rotate.__annotations__ = {"batch": pd.Series, "return": pd.Series}
    return F.pandas_udf(rotate, T.ArrayType(T.DoubleType()))


def opq_topk(
    emb: DataFrame,
    k: int = 5,
    m: int = PQ_M,
    ks: int = PQ_KS,
    shortlist: int = PQ_SHORTLIST,
    seed: int = 42,
    rotation: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    parity: bool = False,
) -> DataFrame:
    """OPQ-ADC ANN (self-search, queries = vec_id % 10 == 0):
    DataFrame[query_id, vec_id, score].

    :func:`pq_topk` with the learned OPQ rotation applied before
    encoding — codes and ADC tables are built from ``R·x``, the exact
    re-rank stays on the original vectors (cosine is rotation-
    invariant; re-ranking unrotated avoids a second rotation pass).
    Same **baseline, not scale path** status as its flat sibling: the
    ADC stage is a deliberate queries × corpus scan; the rotation is
    an O(d²) matmul per vector, amortized by Arrow batching. For the
    indexed tier, compose the same rotation in front of
    :func:`ivf_rpq_topk` — distances are rotation-invariant, so cell
    pruning commutes with ``R``.

    Deterministic + persistable (``rotation=``/``codebooks=``);
    ``parity=True`` keeps the SQL twin's float accumulation order.
    """
    if (rotation is None) != (codebooks is None):
        raise ValueError(
            "opq_topk: rotation and codebooks must be supplied together "
            "— codebooks are fitted to a specific rotation, so mixing a "
            "supplied value with a freshly trained counterpart would "
            "silently degrade the shortlist"
        )
    if rotation is None:
        rotation, codebooks = train_opq(emb, m=m, ks=ks, seed=seed)
    Rm = np.asarray(rotation, dtype=np.float64)
    C = np.array(codebooks, dtype=np.float64)
    rot_udf = _rotate_udf(Rm, parity)
    encode_udf, lut_udf = _pq_code_udfs(C, m, ks, parity)

    base = _vec_df(emb).withColumn("rv", rot_udf("v"))
    corpus = base.select("vid", encode_udf("rv").alias("codes"))
    q = base.where(F.col("vid") % 10 == 0).select(
        F.col("vid").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        lut_udf("rv").alias("lut"),
    )
    ad2 = None
    for j in range(m):
        term = F.element_at(
            F.col("lut"), F.lit(j * ks) + F.element_at("codes", j + 1) + 1
        )
        ad2 = term if ad2 is None else ad2 + term
    cand_w = Window.partitionBy("qid").orderBy(F.asc("ad2"), F.asc("vid"))
    cands = (
        q.crossJoin(corpus)
        .where(F.col("qid") != F.col("vid"))
        .select("qid", "qv", "qnrm", "vid", ad2.alias("ad2"))
        .withColumn("crk", F.row_number().over(cand_w))
        .where(F.col("crk") <= shortlist)
    )
    vsrc = _vec_df(emb)
    rerank = cands.join(vsrc, "vid").select(
        F.col("qid").alias("query_id"),
        F.col("vid").alias("vec_id"),
        F.round(
            dot_vec(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    return (
        rerank.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .drop("rk")
    )


def opq_topk_sql(
    k: int,
    rotation: list[list[float]],
    codebooks: list[list[list[float]]],
    shortlist: int = PQ_SHORTLIST,
    query_filter: str = "vid % 10 = 0",
) -> str:
    """DuckDB twin of :func:`opq_topk` with the rotation matrix and
    codebooks as literals: a ``rot`` CTE materializes
    ``rvec[i] = list_dot_product(vec, R_row_i)``, then the flat-PQ
    code/LUT/ADC/shortlist CTEs of :func:`pq_topk_sql` run over
    ``rvec``; the exact re-rank joins back to the original vectors."""
    m = len(codebooks)
    ks = len(codebooks[0])
    dsub = len(codebooks[0][0])

    def lit(vec: list[float]) -> str:
        return "[" + ", ".join(repr(float(x)) for x in vec) + "]"

    def d2(s: str, c: list[float]) -> str:
        cc = repr(_seq_dot(np.array(c), np.array(c)))
        return (
            f"(list_dot_product({s}, {s})"
            f" - 2 * list_dot_product({s}, {lit(c)}) + {cc})"
        )

    rvec = "[" + ", ".join(
        f"list_dot_product(vec, {lit(row)})" for row in rotation
    ) + "]"
    slices = ", ".join(
        f"rvec[{j * dsub + 1}:{(j + 1) * dsub}] AS s{j}" for j in range(m)
    )
    code_cols = ", ".join(
        "list_sort(["
        + ", ".join(
            f"{{'d': {d2(f's{j}', codebooks[j][c])}, 'c': {c}}}"
            for c in range(ks)
        )
        + f"])[1].c AS code{j}"
        for j in range(m)
    )
    lut_list = "[" + ", ".join(
        d2(f"s{j}", codebooks[j][c])
        for j in range(m)
        for c in range(ks)
    ) + "]"
    adc = " + ".join(
        f"q.lut[{j * ks} + c.code{j} + 1]" for j in range(m)
    )
    return f"""
WITH v AS (
  SELECT CAST(vec_id AS BIGINT) AS vid,
         CAST(embedding AS DOUBLE[]) AS vec
  FROM embeddings
),
rot AS (SELECT vid, {rvec} AS rvec FROM v),
sub AS (SELECT vid, rvec, {slices} FROM rot),
c AS (SELECT vid, {code_cols} FROM sub),
q AS (SELECT vid AS qid, {lut_list} AS lut
      FROM sub WHERE {query_filter}),
cand AS (
  SELECT q.qid, c.vid, {adc} AS ad2
  FROM q CROSS JOIN c WHERE q.qid <> c.vid
),
short AS (
  SELECT qid, vid FROM (
    SELECT *, row_number() OVER
      (PARTITION BY qid ORDER BY ad2 ASC, vid ASC) AS crk
    FROM cand
  ) WHERE crk <= {shortlist}
),
rerank AS (
  SELECT s.qid AS query_id, s.vid AS vec_id,
         ROUND(list_dot_product(qv.vec, cv.vec)
               / (sqrt(list_dot_product(qv.vec, qv.vec))
                  * sqrt(list_dot_product(cv.vec, cv.vec))), 6) AS score
  FROM short s JOIN v qv ON qv.vid = s.qid JOIN v cv ON cv.vid = s.vid
)
SELECT query_id, vec_id, score FROM (
  SELECT *, row_number() OVER
    (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rk
  FROM rerank
) WHERE rk <= {k}
"""


def rotate_embeddings(
    emb: DataFrame,
    rotation: list[list[float]],
    parity: bool = False,
) -> DataFrame:
    """The embeddings table with the OPQ rotation applied to the vector
    column: DataFrame[vec_id, embedding array<double>]. ``parity=True``
    rotates with the SQL twin's accumulation order (see
    :func:`_rotate_udf`) — required when the result feeds an
    oracle-checked pipeline or golden training."""
    Rm = np.asarray(rotation, dtype=np.float64)
    rot_udf = _rotate_udf(Rm, parity)
    return emb.select(
        F.col("vec_id"),
        rot_udf(as_double_vec(F.col("embedding"))).alias("embedding"),
    )


def train_opq_ivf_rpq(
    emb: DataFrame,
    n_cells: int = 16,
    l: int = 4,
    m: int = PQ_M,
    ks: int = PQ_KS,
    seed: int = 42,
) -> tuple[list[list[float]], list[list[float]], list[list[list[float]]]]:
    """Train the full composed index: (rotation, rotated-space IVF
    centers, rotated-space residual codebooks). Rotation from
    :func:`train_opq`; centers/books fitted on the PARITY-rotated
    vectors so pinned goldens reproduce under oracle runs."""
    from .clustering import mr_fft_centers

    rotation, _flat_books = train_opq(emb, m=m, ks=ks, seed=seed)
    remb = rotate_embeddings(emb, rotation, parity=True)
    pts = remb.select(
        F.col("vec_id").cast("long").alias("id"),
        as_double_vec(F.col("embedding")).alias("features"),
    )
    centers = [
        [float(v) for v in c]
        for c in mr_fft_centers(pts, k=n_cells, l=l, seed=seed)
    ]
    books = train_pq_codebooks_residual(
        remb, centers, m=m, ks=ks, seed=seed
    )
    return rotation, centers, books


def opq_ivf_rpq_topk(
    emb: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 2,
    seed: int = 42,
    l: int = 4,
    m: int = PQ_M,
    ks: int = PQ_KS,
    shortlist: int = PQ_SHORTLIST,
    rotation: list[list[float]] | None = None,
    centers: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    parity: bool = False,
) -> DataFrame:
    """The fully composed FAISS-style index — OPQ rotation → IVF cell
    pruning → residual-PQ ADC → exact re-rank (the ``OPQ<m>,IVF<c>,
    PQ<m>`` index string): DataFrame[query_id, vec_id, score].

    Distances are rotation-invariant, so cell pruning commutes with
    ``R`` and the whole :func:`ivf_rpq_topk` pipeline runs unchanged on
    the rotated vectors — the rotation is one Arrow-batched matmul per
    vector, after which plan shape, state bounds, and scale story are
    exactly the residual-IVF-PQ ones. Scores are cosine in rotated
    space (= cosine in the original space up to float rounding).
    Deterministic + persistable via ``rotation=``/``centers=``/
    ``codebooks=`` (see :func:`train_opq_ivf_rpq`).
    """
    if rotation is None:
        rotation, centers, codebooks = train_opq_ivf_rpq(
            emb, n_cells=n_cells, l=l, m=m, ks=ks, seed=seed
        )
    remb = rotate_embeddings(emb, rotation, parity=parity)
    return ivf_rpq_topk(
        remb,
        k=k,
        n_cells=n_cells,
        nprobe=nprobe,
        seed=seed,
        l=l,
        m=m,
        ks=ks,
        shortlist=shortlist,
        centers=centers,
        codebooks=codebooks,
        parity=parity,
    )


def opq_ivf_rpq_topk_sql(
    k: int,
    rotation: list[list[float]],
    centers: list[list[float]],
    codebooks: list[list[list[float]]],
    nprobe: int = 2,
    shortlist: int = PQ_SHORTLIST,
) -> str:
    """DuckDB twin of :func:`opq_ivf_rpq_topk`: injects the rotated
    vectors (``list_dot_product`` per output dimension — the parity
    kernel's accumulation order) as the source CTE of
    :func:`ivf_rpq_topk_sql`; everything downstream is shared."""
    def lit(vec: list[float]) -> str:
        return "[" + ", ".join(repr(float(x)) for x in vec) + "]"

    rvec = "[" + ", ".join(
        f"list_dot_product(vec0, {lit(row)})" for row in rotation
    ) + "]"
    v_cte = (
        "SELECT vid, " + rvec + " AS vec FROM (\n"
        "    SELECT CAST(vec_id AS BIGINT) AS vid,\n"
        "           CAST(embedding AS DOUBLE[]) AS vec0\n"
        "    FROM embeddings)"
    )
    return ivf_rpq_topk_sql(
        k, centers, codebooks, nprobe=nprobe,
        shortlist=shortlist, v_cte=v_cte,
    )


def embedding_scatter(
    emb: DataFrame, k: int = 8, scale: int = 1_000_000
) -> DataFrame:
    """Integer-exact scatter matrix over the first ``k`` embedding
    dimensions — the covariance/PCA input of embedding-space curation
    (whitening before SemDeDup/IVF, dominant-direction removal):
    DataFrame[i, j, n_vecs, s_i, s_j, s_ij, cov] for 1 <= i <= j <= k,
    where ``q_d = round(e_d * scale)`` as BIGINT and the s columns are
    exact integer sums (s_ij = Σ q_i·q_j). Quantizing FIRST makes
    every aggregate order-independent and bit-reproducible on any
    engine — the float-accumulation-order trap that keeps
    ``x_ann_ivf_rpq_prod`` off a value oracle doesn't exist here.
    ``cov`` is the sample covariance in original units, derived from
    the exact sums by a fixed expression (identical in the twin).

    Plan: one narrow projection (k quantized dims), one explode to the
    k·(k+1)/2 upper-triangle pair structs per row, one hash
    aggregation over k² tiny groups — map-side partial combine does
    virtually all the work, the shuffle is k² rows per partition. At
    100 TB this is the textbook distributed scatter accumulation; the
    d² blowup rides the explode, never a join."""
    qv = F.transform(
        F.slice(F.col("embedding"), 1, k),
        lambda e: F.round(e.cast("double") * F.lit(float(scale)))
        .cast("bigint"),
    )
    pairs = emb.select(qv.alias("qv")).select(
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, {k}), i -> "
                f"transform(sequence(i, {k}), j -> "
                "struct(i AS i, j AS j, "
                "qv[i-1] AS qi, qv[j-1] AS qj))))"
            )
        ).alias("p")
    ).select("p.*")
    n = F.count("*").cast("bigint")
    s_i = F.sum("qi").cast("bigint")
    s_j = F.sum("qj").cast("bigint")
    s_ij = F.sum(F.col("qi") * F.col("qj")).cast("bigint")
    return pairs.groupBy("i", "j").agg(
        n.alias("n_vecs"),
        s_i.alias("s_i"),
        s_j.alias("s_j"),
        s_ij.alias("s_ij"),
        F.round(
            (
                s_ij.cast("double") / n
                - (s_i.cast("double") / n) * (s_j.cast("double") / n)
            )
            / F.lit(float(scale) * float(scale)),
            9,
        ).alias("cov"),
    )


def embedding_scatter_sql(k: int = 8, scale: int = 1_000_000) -> str:
    """DuckDB twin of :func:`embedding_scatter` (identical
    quantization, identical integer sums, identical cov expression)."""
    return f"""
WITH q AS (
  SELECT list_transform(
           embedding[1:{k}],
           e -> CAST(round(CAST(e AS DOUBLE) * {scale}) AS BIGINT)
         ) AS qv
  FROM embeddings
),
pairs AS (
  SELECT CAST(t1.range AS INT) AS i, CAST(t2.range AS INT) AS j,
         qv[CAST(t1.range AS INT)] AS qi,
         qv[CAST(t2.range AS INT)] AS qj
  FROM q
  CROSS JOIN range(1, {k + 1}) t1
  CROSS JOIN range(1, {k + 1}) t2
  WHERE t2.range >= t1.range
)
SELECT i, j,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(qi) AS BIGINT) AS s_i,
       CAST(SUM(qj) AS BIGINT) AS s_j,
       CAST(SUM(qi * qj) AS BIGINT) AS s_ij,
       ROUND((CAST(SUM(qi * qj) AS DOUBLE) / COUNT(*)
              - (CAST(SUM(qi) AS DOUBLE) / COUNT(*))
                * (CAST(SUM(qj) AS DOUBLE) / COUNT(*)))
             / {float(scale) * float(scale)!r}, 9) AS cov
FROM pairs GROUP BY i, j
"""


def _quantized_dims(
    emb: DataFrame, k: int, scale: int
) -> DataFrame:
    """(vec_id, dim, qv): the first ``k`` embedding dims through the
    engine's exact quantize bridge (``round(e·scale)`` as BIGINT —
    embedding_scatter's convention), one row per (vector, dim). Pure
    narrow explode, no shuffle."""
    qv = F.transform(
        F.slice(F.col("embedding"), 1, k),
        lambda e: F.round(e.cast("double") * F.lit(float(scale)))
        .cast("bigint"),
    )
    return emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.posexplode(qv).alias("dim0", "qv"),
    ).select("vec_id", (F.col("dim0") + 1).alias("dim"), "qv")


def embedding_quantize_int8(
    emb: DataFrame, k: int = 8, scale: int = 1_000_000
) -> DataFrame:
    """Symmetric per-dimension absmax int8 quantization — the
    embedding STORAGE/SERVING compression next to the PQ family's
    search compression (4 bytes/dim float32 → 1 byte/dim + one scale
    per dimension, the faiss ScalarQuantizer / vector-DB int8 shape):
    DataFrame[vec_id, dim, qv, qmax, code, err] where

    - ``qv = round(e·scale)`` BIGINT (the shared exact bridge),
    - ``qmax = max(abs(qv))`` over the corpus per dim (the absmax
      scale, itself an exact integer),
    - ``code = sign(qv) · ((|qv|·127) DIV qmax)`` ∈ [-127, 127] —
      integer floor-div on NONNEGATIVE operands only, so Spark ``DIV``
      and DuckDB ``//`` agree by construction (regression.py's
      convention),
    - ``err = |qv·127 − code·qmax|`` — the reconstruction error in
      scale·127 units, exact; err < qmax always (floor remainder), so
      real-unit error < absmax/127, the textbook int8 bound.

    Every column after the bridge is integer arithmetic — the whole
    codec is value-oracled, no float rounding anywhere.

    Plan: pass 1 reduces the corpus to k absmax rows (map-side
    combine); pass 2 broadcasts those k rows back onto the dim explode
    and codes every value in one codegen projection. At 100 TB: one
    full scan per pass, a k-row broadcast, zero data-sized shuffles.
    An all-zero dimension (qmax = 0) codes to 0 with err 0."""
    d = _quantized_dims(emb, k, scale)
    qmax = d.groupBy("dim").agg(
        F.max(F.abs(F.col("qv"))).alias("qmax")
    )
    code = F.when(F.col("qmax") == 0, F.lit(0)).otherwise(
        F.when(F.col("qv") < 0, F.lit(-1)).otherwise(F.lit(1))
        * F.expr("(abs(qv) * 127) DIV qmax")
    )
    return (
        d.join(F.broadcast(qmax), "dim")
        .select(
            "vec_id",
            "dim",
            "qv",
            "qmax",
            code.cast("int").alias("code"),
        )
        .withColumn(
            "err",
            F.abs(
                F.col("qv") * F.lit(127)
                - F.col("code").cast("bigint") * F.col("qmax")
            ),
        )
    )


def embedding_quantize_report(
    emb: DataFrame, k: int = 8, scale: int = 1_000_000
) -> DataFrame:
    """Per-dimension codec quality report over the int8 quantization:
    DataFrame[dim, qmax, n_vecs, n_saturated, max_err, sum_err] — the
    go/no-go numbers before switching a serving index to int8 (worst
    and total reconstruction error in exact scale·127 units, and how
    many values hit the ±127 rail). k rows out; the heavy lifting is
    the same two scan passes as the codec itself."""
    q = embedding_quantize_int8(emb, k, scale)
    return q.groupBy("dim").agg(
        F.max("qmax").alias("qmax"),
        F.count("*").cast("bigint").alias("n_vecs"),
        F.sum(
            F.when(F.abs(F.col("code")) == 127, 1).otherwise(0)
        ).cast("bigint").alias("n_saturated"),
        F.max("err").alias("max_err"),
        F.sum("err").cast("bigint").alias("sum_err"),
    )


def _quantize_cte(k: int, scale: int) -> str:
    return f"""
qd AS (
  SELECT vec_id, CAST(t.range AS INT) AS dim,
         CAST(round(CAST(embedding[CAST(t.range AS INT)] AS DOUBLE)
                    * {scale}) AS BIGINT) AS qv
  FROM embeddings CROSS JOIN range(1, {k + 1}) t
),
qm AS (
  SELECT dim, MAX(abs(qv)) AS qmax FROM qd GROUP BY dim
),
coded AS (
  SELECT qd.vec_id, qd.dim, qd.qv, qm.qmax,
         CAST(CASE WHEN qm.qmax = 0 THEN 0
                   ELSE (CASE WHEN qd.qv < 0 THEN -1 ELSE 1 END)
                        * ((abs(qd.qv) * 127) // qm.qmax)
              END AS INT) AS code
  FROM qd JOIN qm USING (dim)
)"""


def embedding_quantize_int8_sql(
    k: int = 8, scale: int = 1_000_000, vec_filter: str = "TRUE"
) -> str:
    """DuckDB twin of :func:`embedding_quantize_int8` (identical
    bridge, identical integer codec)."""
    return f"""
WITH {_quantize_cte(k, scale)}
SELECT vec_id, dim, qv, qmax, code,
       abs(qv * 127 - CAST(code AS BIGINT) * qmax) AS err
FROM coded WHERE {vec_filter}
"""


def embedding_quantize_report_sql(
    k: int = 8, scale: int = 1_000_000
) -> str:
    """DuckDB twin of :func:`embedding_quantize_report`."""
    return f"""
WITH {_quantize_cte(k, scale)},
e AS (
  SELECT dim, qmax, code,
         abs(qv * 127 - CAST(code AS BIGINT) * qmax) AS err
  FROM coded
)
SELECT dim, MAX(qmax) AS qmax,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN abs(code) = 127 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_saturated,
       MAX(err) AS max_err,
       CAST(SUM(err) AS BIGINT) AS sum_err
FROM e GROUP BY dim
"""


def _int8_code_vectors(
    emb: DataFrame, k: int, scale: int
) -> DataFrame:
    """(vid, codes array<bigint>): every vector through the int8 codec
    as a code array, FULLY IN-PLAN — the k absmax scales are reduced to
    a 1-row array column and broadcast back, so a model refresh is a
    plan re-run, nothing collects to the driver.

    The floor division |qv|·127 DIV qmax is expressed as
    ``(n − n mod qmax) / qmax``: the numerator is an exact multiple of
    qmax and both fit in 2^53, so the double division is exact — the
    same integer DuckDB's ``//`` produces, without leaving codegen."""
    qmax1 = (
        _quantized_dims(emb, k, scale)
        .groupBy("dim")
        .agg(F.max(F.abs(F.col("qv"))).alias("qmax"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "qmax"))
            ).alias("s")
        )
        .select(F.transform("s", lambda x: x["qmax"]).alias("qm"))
    )

    def code(e, i):
        qv = F.round(e.cast("double") * F.lit(float(scale))).cast(
            "bigint"
        )
        qmax = F.element_at(F.col("qm"), i + 1)
        n = F.abs(qv) * F.lit(127)
        mag = ((n - F.pmod(n, qmax)) / qmax).cast("bigint")
        signed = (
            F.when(qv < 0, F.lit(-1)).otherwise(F.lit(1)).cast("bigint")
            * mag
        )
        return F.when(qmax == 0, F.lit(0).cast("bigint")).otherwise(
            signed
        )

    return emb.crossJoin(F.broadcast(qmax1)).select(
        F.col("vec_id").cast("long").alias("vid"),
        F.transform(
            F.slice(F.col("embedding"), 1, k), code
        ).alias("codes"),
    )


def int8_topk(
    emb: DataFrame,
    k: int = 3,
    dims: int = 8,
    scale: int = 1_000_000,
    query_mod: int = 10,
) -> DataFrame:
    """Top-k search in int8 code space — the SERVING half of the
    absmax codec (`embedding_quantize_int8` is the storage half):
    DataFrame[query_id, vec_id, score] with score = Σ code_q·code_d,
    an exact BIGINT for any corpus, so the whole search path is
    value-oracled with no float accumulation anywhere (the property
    the float ANN tiers can only approximate with 6-dp rounding).

    Queries = vec_id % query_mod == 0 self-search excluding the
    identical id, ties broken by vec_id — the engine's ANN-baseline
    conventions (cosine_topk). Symmetric integer dot product: both
    sides quantized, the faiss SQ8 shape.

    Scale: this is the LABELED BRUTE BASELINE of the int8 tier, the
    exact-scoring contract the celled variants re-rank against — at
    100 TB you run the same scoring inside IVF cells (ivf_topk's probe
    join) with codes as the payload; the scoring expression is what
    this operator pins. Code arrays are built fully in-plan (one
    absmax pass + broadcast), 8× narrower shuffle payload than the
    float vectors they replace."""
    coded = _int8_code_vectors(emb, dims, scale)
    q = coded.where(F.col("vid") % query_mod == 0).select(
        F.col("vid").alias("qid"), F.col("codes").alias("qc")
    )
    scored = (
        q.crossJoin(coded)
        .where(F.col("qid") != F.col("vid"))
        .select(
            F.col("qid").alias("query_id"),
            F.col("vid").alias("vec_id"),
            F.aggregate(
                F.zip_with(
                    F.col("qc"), F.col("codes"), lambda a, b: a * b
                ),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .drop("rk")
    )


def int8_topk_sql(
    k: int = 3,
    dims: int = 8,
    scale: int = 1_000_000,
    query_mod: int = 10,
) -> str:
    """DuckDB twin of :func:`int8_topk` — identical codec (shared
    coded CTE), identical integer dot product."""
    return f"""
WITH {_quantize_cte(dims, scale)},
c AS (
  SELECT vec_id AS vid, list(code ORDER BY dim) AS codes
  FROM coded GROUP BY vec_id
),
scored AS (
  SELECT q.vid AS query_id, c.vid AS vec_id,
         CAST(list_dot_product(
             list_transform(q.codes, x -> CAST(x AS BIGINT)),
             list_transform(c.codes, x -> CAST(x AS BIGINT))
         ) AS BIGINT) AS score
  FROM c q CROSS JOIN c WHERE q.vid % {query_mod} = 0
    AND q.vid <> c.vid
),
ranked AS (
  SELECT *, row_number() OVER
    (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rk
  FROM scored
)
SELECT query_id, vec_id, score FROM ranked WHERE rk <= {k}
"""


def ivf_int8_topk(
    emb: DataFrame,
    k: int = 3,
    dims: int = 8,
    n_cells: int = 8,
    rounds: int = 2,
    nprobe: int = 2,
    scale: int = 1_000_000,
    query_mod: int = 10,
) -> DataFrame:
    """IVF-celled int8 search — the int8 tier's SCALE PATH next to
    :func:`int8_topk`'s labeled brute baseline, and the first celled
    ANN tier with a fully COMPUTED oracle (no goldens): the coarse
    quantizer is the integer-exact Lloyd k-means
    (clustering._kmeans_centers — bit-reproducible, unrolled-CTE
    oracle-able) trained on the same first-``dims`` subspace the
    codec works in, so cell assignment, probe ranking, and int8 dot
    scoring are ALL exact integer arithmetic end to end.
    DataFrame[query_id, vec_id, score], top-``k`` per query by
    (score DESC, vec_id), self-search over vec_id % query_mod == 0
    excluding the identical id — the ANN family's conventions.

    Plan: centroids are n_cells·dims integer literals, so BOTH the
    corpus assignment and each query's nprobe-cell ranking are
    shuffle-free codegen maps; candidates come from one broadcast
    join of the (queries × nprobe) probe list against the
    cell-assigned corpus — work ∝ the probed cells' population,
    1/(n_cells/nprobe) of the corpus, with 1-byte-scale code arrays
    as the only payload. The float IVF tier (ivf_topk) keeps the
    recall story; this tier is the integer serving index a vector
    store ships: storage-quantized, cell-pruned, value-verifiable.
    """
    from .clustering import (
        _argmin_center_expr,
        _kmeans_centers,
        _kmeans_pts,
    )

    sub = emb.select(
        "vec_id", F.expr(f"slice(embedding, 1, {dims})").alias("embedding")
    )
    pts = _kmeans_pts(sub, scale).localCheckpoint()
    centers = _kmeans_centers(pts, n_cells, rounds)
    coded = _int8_code_vectors(emb, dims, scale)
    assigned = pts.select(
        "vec_id", _argmin_center_expr(centers)["c"].alias("cell")
    )
    # per-query nprobe-cell shortlist: full (d2, c) array sorted in
    # codegen, sliced — n_cells structs per row, no shuffle
    entries = []
    for c, q in enumerate(centers):
        lit = "array(" + ",".join(f"{v}L" for v in q) + ")"
        entries.append(
            "struct(aggregate(zip_with(e, "
            f"{lit}, (a, b) -> (a - b) * (a - b)), 0L, "
            f"(acc, x) -> acc + x) AS d2, {c} AS c)"
        )
    probe = (
        pts.where(F.col("vec_id") % query_mod == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.explode(
                F.expr(
                    "slice(array_sort(array("
                    + ",".join(entries)
                    + f")), 1, {nprobe})"
                )["c"]
            ).alias("cell"),
        )
    )
    qc = coded.select(
        F.col("vid").alias("query_id"), F.col("codes").alias("qcodes")
    )
    cand = (
        F.broadcast(probe)
        .join(assigned, "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(qc), "query_id")
        .join(coded, F.col("vec_id") == F.col("vid"))
        .select(
            "query_id",
            "vec_id",
            F.aggregate(
                F.zip_with(
                    F.col("qcodes"), F.col("codes"), lambda a, b: a * b
                ),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .drop("rk")
    )


def ivf_int8_topk_sql(
    k: int = 3,
    dims: int = 8,
    n_cells: int = 8,
    rounds: int = 2,
    nprobe: int = 2,
    scale: int = 1_000_000,
    query_mod: int = 10,
) -> str:
    """DuckDB twin of :func:`ivf_int8_topk` — the unrolled integer
    k-means chain (clustering._kmeans_fin_with on the same subspace)
    composed with the shared int8 codec CTE; every stage exact."""
    from .clustering import _kmeans_fin_with

    d2 = (
        "list_sum(list_transform(range(1, len(e) + 1), "
        "i -> (e[i] - q[i]) * (e[i] - q[i])))"
    )
    return f"""{_kmeans_fin_with(n_cells, rounds, scale, dims=dims)},
{_quantize_cte(dims, scale)},
cv AS (
  SELECT vec_id AS vid, list(CAST(code AS BIGINT) ORDER BY dim) AS codes
  FROM coded GROUP BY vec_id
),
probe AS (
  SELECT vec_id AS query_id, c AS cell FROM (
    SELECT p.vec_id, cr.c,
           ROW_NUMBER() OVER (PARTITION BY p.vec_id
                              ORDER BY {d2}, cr.c) AS rn
    FROM pts p CROSS JOIN c{rounds} cr
    WHERE p.vec_id % {query_mod} = 0
  ) WHERE rn <= {nprobe}
),
scored AS (
  SELECT probe.query_id, fin.vec_id,
         CAST(list_dot_product(q.codes, d.codes) AS BIGINT) AS score
  FROM probe
  JOIN fin ON fin.c = probe.cell AND fin.vec_id <> probe.query_id
  JOIN cv q ON q.vid = probe.query_id
  JOIN cv d ON d.vid = fin.vec_id
),
ranked AS (
  SELECT *, row_number() OVER
    (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rk
  FROM scored
)
SELECT query_id, vec_id, score FROM ranked WHERE rk <= {k}
"""


def embedding_pca(
    emb: DataFrame, k: int = 8, m: int = 2, scale: int = 1_000_000
) -> tuple[DataFrame, list[float]]:
    """PCA over the first ``k`` embedding dims, built on the
    integer-exact scatter matrix: returns
    ``(DataFrame[vec_id, pc1..pcm], explained_variances)``.

    The distribution of work is the point: :func:`embedding_scatter`
    aggregates the k×k second-moment matrix across the cluster (the
    only pass over the data), the driver eigendecomposes the k×k
    covariance (bounded — k² scalars, never rows), and the projection
    is a literal-coefficient linear map Catalyst evaluates in one
    narrow whole-stage-codegen pass, no shuffle. Eigh's sign ambiguity
    is pinned (each component's largest-|coordinate| positive) so
    results are reproducible across BLAS builds up to that convention.
    This is the whitening/dominant-direction step embedding curation
    pipelines (SemDeDup-style) run before clustering.
    """
    rows = embedding_scatter(emb, k=k, scale=scale).collect()
    n = rows[0]["n_vecs"]
    cov = np.zeros((k, k))
    mean = np.zeros(k)
    for r in rows:
        i, j = r["i"] - 1, r["j"] - 1
        cov[i, j] = cov[j, i] = r["cov"]
        if i == j:
            mean[i] = r["s_i"] / n / scale
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:m]
    comps = evecs[:, order]
    for c in range(comps.shape[1]):
        if comps[np.argmax(np.abs(comps[:, c])), c] < 0:
            comps[:, c] = -comps[:, c]
    proj_cols = []
    for c in range(comps.shape[1]):
        col = None
        for d in range(k):
            term = (
                F.col("embedding")[d].cast("double")
                - F.lit(float(mean[d]))
            ) * F.lit(float(comps[d, c]))
            col = term if col is None else col + term
        proj_cols.append(col.alias(f"pc{c + 1}"))
    out = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"), *proj_cols
    )
    return out, [float(evals[o]) for o in order]


def pca_whiten(
    emb: DataFrame, k: int = 8, m: int = 4, scale: int = 1_000_000
) -> DataFrame:
    """PCA-whitened embeddings: DataFrame[vec_id, embedding] with
    ``embedding`` the m-dim array<double> of principal-component
    scores each divided by √eigenvalue — unit variance per retained
    direction, the standard preconditioning embedding-curation
    pipelines apply before semantic dedup / clustering so no single
    dominant direction swamps the distance metric (SemDeDup,
    Abbas et al. 2023 §3; this is the composition registered as
    ``x_pca_semdedup``).

    Execution shape is :func:`embedding_pca`'s: one distributed pass
    builds the integer-exact scatter, the driver eigendecomposes k²
    scalars, and the whitened projection is a literal-coefficient
    Catalyst expression — narrow, whole-stage-codegen, no shuffle, no
    Python on the data path. Because the scatter sums are exact
    integers and eigh/sign-pinning is deterministic, the whitened
    coordinates are bit-reproducible, and a DuckDB twin evaluating the
    SAME literal map (tools/gen_pca_golden.py pins the sf0.01
    coefficients independently from the SQL scatter twin) reproduces
    them bit-for-bit — which is what puts the downstream semantic
    dedup on a value oracle."""
    import math

    proj, evals = embedding_pca(emb, k=k, m=m, scale=scale)
    return proj.select(
        "vec_id",
        F.array(
            *[
                (
                    F.col(f"pc{c + 1}")
                    / F.lit(math.sqrt(evals[c]))
                ).alias(f"w{c + 1}")
                for c in range(m)
            ]
        ).alias("embedding"),
    )


def pca_whiten_vec_sql(
    mean: list[float],
    comps: list[list[float]],
    evals: list[float],
) -> str:
    """DuckDB twin of :func:`pca_whiten`'s projection as a
    (vid, vec DOUBLE[]) subquery over ``embeddings`` — the identical
    left-associated literal linear map, with the pinned coefficients
    passed in (``plans/pca_golden_sf001.py``, generated independently
    of the engine by tools/gen_pca_golden.py)."""
    import math

    k = len(mean)
    m = len(comps[0])
    cols = []
    for c in range(m):
        terms = " + ".join(
            f"(CAST(embedding[{d + 1}] AS DOUBLE) - {mean[d]!r})"
            f" * {comps[d][c]!r}"
            for d in range(k)
        )
        cols.append(f"({terms}) / {math.sqrt(evals[c])!r}")
    vec = ", ".join(cols)
    return (
        "SELECT CAST(vec_id AS BIGINT) AS vid, "
        f"[{vec}]::DOUBLE[] AS vec FROM embeddings"
    )


def cosine_near_pairs_over_sql(vec_sql: str, threshold: float) -> str:
    """:func:`cosine_near_pairs_sql` generalized to an arbitrary
    (vid, vec DOUBLE[]) subquery — the oracle for near-pair search in
    a derived space (e.g. the PCA-whitened one)."""
    score = (
        "ROUND(list_dot_product(a.vec, b.vec) "
        "/ (sqrt(list_dot_product(a.vec, a.vec)) "
        "* sqrt(list_dot_product(b.vec, b.vec))), 6)"
    )
    return f"""
WITH v AS ({vec_sql})
SELECT a.vid AS vec_a, b.vid AS vec_b, {score} AS score
FROM v a JOIN v b ON a.vid < b.vid
WHERE {score} >= {threshold!r}
"""


def cell_cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.3,
    n_cells: int = 8,
    l: int = 4,
    seed: int = 42,
    centers: list[list[float]] | None = None,
    parity: bool = False,
) -> DataFrame:
    """WITHIN-CELL cosine near-pairs: DataFrame[vec_a, vec_b, score]
    with both endpoints assigned to the same IVF cell (argmin-L2 to
    the MRFFT quantizer, lower-cell tie-break — the exact assignment
    :func:`ivf_topk` uses) and cosine ≥ threshold.

    This is SemDeDup as the paper actually runs it at scale (Abbas et
    al. 2023 §3: cluster first, compare ONLY within clusters): an
    APPROXIMATE near-pair set — cross-cell near-dups are missed by
    design — in exchange for a candidate space of Σ|cell|² instead of
    n². The engine keeps both: :func:`cosine_near_pairs_blocked` is
    the EXACT path (triangle-inequality cell-pair pruning), which at
    low thresholds (radius √(2−2t) comparable to the space's
    diameter) degrades toward all-pairs — at threshold 0.3 on the
    near-uniform fixture every cell pair survives pruning, so the
    exact path IS all-pairs there. Within-cell is what a 100 TB
    deployment runs at such thresholds, and the recall trade is
    measurable against the exact twin (x_semdedup_survivors).

    ``centers``/``parity`` as in :func:`ivf_topk` (pretrained/pinned
    quantizer; oracle float-order)."""
    pts = emb.select(
        F.col("vec_id").cast("long").alias("id"),
        as_double_vec(F.col("embedding")).alias("features"),
    )
    if centers is None:
        from .clustering import mr_fft_centers

        centers = mr_fft_centers(pts, k=n_cells, l=l, seed=seed)
    c = np.asarray(centers, dtype=np.float64)
    _, assign_udf = _cell_probe_udfs(c, 1, parity)
    base = pts.select(
        F.col("id").alias("vid"),
        F.col("features").alias("v"),
        norm(F.col("features")).alias("nrm"),
        assign_udf("features").alias("cell"),
    )
    # within-cell grouped rescore (r11, guide §8): the r10 shape was a
    # self-join on cell — every candidate pair row carried both full
    # vectors. Grouping by cell ships each vector exactly ONCE; the
    # group scores its own upper triangle in the strict-fold kernel
    return (
        base.groupBy("cell")
        .applyInPandas(_within_block_scorer(threshold), _PAIR_RAW_SCHEMA)
        .select(
            "vec_a", "vec_b", F.round(F.col("raw"), 6).alias("score")
        )
        .where(F.col("score") >= F.lit(threshold))
    )


def cell_cosine_pairs_sql(
    threshold: float, centers: list[list[float]]
) -> str:
    """DuckDB twin of :func:`cell_cosine_pairs` with the quantizer
    centers pinned as literals (same assignment CTEs as
    :func:`ivf_topk_sql`, same pair scoring as
    :func:`cosine_near_pairs_sql`)."""
    cvals = ", ".join(
        f"({i}, [" + ", ".join(repr(float(v)) for v in cv) + "])"
        for i, cv in enumerate(centers)
    )
    score = (
        "ROUND(list_dot_product(av.vec, bv.vec) "
        "/ (sqrt(list_dot_product(av.vec, av.vec)) "
        "* sqrt(list_dot_product(bv.vec, bv.vec))), 6)"
    )
    return f"""
WITH v AS (
  SELECT CAST(vec_id AS BIGINT) AS vid,
         CAST(embedding AS DOUBLE[]) AS vec
  FROM embeddings
),
c AS (SELECT * FROM (VALUES {cvals}) t(cell, cvec)),
d AS (
  SELECT v.vid, c.cell,
         list_dot_product(v.vec, v.vec)
           - 2 * list_dot_product(v.vec, c.cvec)
           + list_dot_product(c.cvec, c.cvec) AS d2
  FROM v CROSS JOIN c
),
rc AS (
  SELECT vid, cell,
         row_number() OVER (PARTITION BY vid ORDER BY d2, cell) AS rk
  FROM d
),
corpus AS (SELECT vid, cell FROM rc WHERE rk = 1)
SELECT a.vid AS vec_a, b.vid AS vec_b, {score} AS score
FROM corpus a
JOIN corpus b ON a.cell = b.cell AND a.vid < b.vid
JOIN v av ON av.vid = a.vid
JOIN v bv ON bv.vid = b.vid
WHERE {score} >= {threshold!r}
"""


# ---------------------------------------------------------------------------
# Binary (sign-bit) embedding codec + packed-word Hamming search — the
# 1-bit/dim serving tier below int8 (32x compression vs float32).
# Reference analogue: the reference's distance pipeline is float euclidean
# (big_data_computing_2.py); this is the modern retrieval-stack counterpart
# (binary quantization as shipped by faiss IndexBinaryFlat / every vector
# DB's BQ tier), done integer-exact so the whole codec + search oracles.
# ---------------------------------------------------------------------------

_BQ_WORD_BITS = 60  # bits packed per BIGINT word; 60 < 63 so no sign issues


def embedding_binary_codec(
    emb: DataFrame, dims: int = 64, scale: int = 1_000_000
) -> DataFrame:
    """Sign-bit binary codec: DataFrame[vec_id, word, wv].

    Per dimension the corpus mean (in the exact ``round(e·scale)``
    BIGINT bridge) is the threshold: bit = 1 iff ``qv·n > Σqv`` —
    the strictly-above-mean test kept multiplicative so no division
    ever rounds. Bits pack little-endian into 60-bit BIGINT words
    (``word = (dim-1) DIV 60``), so a d-dim vector becomes
    ``ceil(d/60)`` integers: 1 bit/dim storage, and Hamming distance
    becomes ``bit_count(xor(words))`` — pure JVM codegen.

    Plan: pass 1 reduces the corpus to ``dims`` (n, Σqv) rows
    (map-side combine); pass 2 broadcasts them onto the dim explode
    and packs in one aggregation keyed by (vec_id, word). At 100 TB:
    two scans, a dims-row broadcast, and the only shuffle carries
    ceil(d/60) BIGINTs per vector — the codec output itself."""
    d = _quantized_dims(emb, dims, scale)
    stats = d.groupBy("dim").agg(
        F.count("*").alias("n"), F.sum("qv").alias("s")
    )
    bit = (
        F.col("qv") * F.col("n") > F.col("s")
    ).cast("bigint")
    return (
        d.join(F.broadcast(stats), "dim")
        .select(
            "vec_id",
            F.expr(f"(dim - 1) DIV {_BQ_WORD_BITS}").alias("word"),
            (
                bit
                * F.expr(
                    "shiftleft(CAST(1 AS BIGINT), "
                    f"CAST((dim - 1) % {_BQ_WORD_BITS} AS INT))"
                )
            ).alias("b"),
        )
        .groupBy("vec_id", "word")
        .agg(F.sum("b").alias("wv"))
    )


def hamming_topk(
    emb: DataFrame,
    queries: DataFrame | None = None,
    dims: int = 64,
    k: int = 5,
    scale: int = 1_000_000,
) -> DataFrame:
    """Top-k by Hamming distance over the binary codec:
    DataFrame[query_id, vec_id, hamming].

    ``queries`` (same schema as ``emb``) selects which corpus vectors
    act as probes; thresholds always come from the FULL corpus so a
    query's code is identical to its corpus code. Distance is
    ``Σ_words bit_count(xor(qw, cw))`` — exact integer, so ties are
    real; they break by vec_id ascending for a total order.

    Scale: the corpus side is ceil(d/60) BIGINTs per vector; the probe
    side broadcasts when small. Per (query, candidate) the kernel is
    ~d/60 XOR+POPCNT ops inside whole-stage codegen — this is the
    LABELED BRUTE tier of binary search (the celled variants compose
    it with IVF exactly like int8_topk does)."""
    codes = embedding_binary_codec(emb, dims, scale)
    if queries is None:
        qids = emb.select(F.col("vec_id").cast("long").alias("qid"))
    else:
        qids = queries.select(
            F.col("vec_id").cast("long").alias("qid")
        )
    qcodes = codes.join(
        F.broadcast(qids),
        codes["vec_id"] == F.col("qid"),
    ).select("qid", "word", F.col("wv").alias("qwv"))
    scored = (
        qcodes.join(codes, "word")
        .where(F.col("qid") != F.col("vec_id"))
        .groupBy("qid", "vec_id")
        .agg(
            F.sum(
                F.bit_count(
                    F.expr("qwv ^ wv")
                ).cast("bigint")
            ).alias("hamming")
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.asc("hamming"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            F.col("qid").alias("query_id"), "vec_id", "hamming"
        )
    )


def _binary_code_cte(dims: int, scale: int) -> str:
    """Shared DuckDB CTE chain producing codes(vec_id, word, wv)."""
    return f"""q AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(
           CAST(embedding AS DOUBLE[])[1:{dims}],
           e -> CAST(round(e * {scale}) AS BIGINT)
         ) AS qv
  FROM embeddings
),
d AS (
  SELECT vec_id, CAST(t.range AS BIGINT) AS dim,
         qv[CAST(t.range AS INT)] AS qv
  FROM q CROSS JOIN range(1, {dims + 1}) t
),
st AS (
  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(qv) AS BIGINT) AS s
  FROM d GROUP BY dim
),
codes AS (
  SELECT d.vec_id,
         (d.dim - 1) // {_BQ_WORD_BITS} AS word,
         CAST(SUM(
           CASE WHEN d.qv * st.n > st.s
                THEN (CAST(1 AS BIGINT) << CAST((d.dim - 1) % {_BQ_WORD_BITS} AS INT))
                ELSE 0 END
         ) AS BIGINT) AS wv
  FROM d JOIN st USING (dim)
  GROUP BY d.vec_id, (d.dim - 1) // {_BQ_WORD_BITS}
)"""


def hamming_topk_sql(
    dims: int = 64,
    k: int = 5,
    scale: int = 1_000_000,
    query_filter: str = "TRUE",
) -> str:
    """DuckDB twin of :func:`hamming_topk`."""
    return f"""
WITH {_binary_code_cte(dims, scale)},
qc AS (
  SELECT vec_id AS qid, word, wv AS qwv FROM codes
  WHERE {query_filter}
),
scored AS (
  SELECT qc.qid, codes.vec_id,
         CAST(SUM(bit_count(xor(qc.qwv, codes.wv))) AS BIGINT)
           AS hamming
  FROM qc JOIN codes USING (word)
  WHERE qc.qid <> codes.vec_id
  GROUP BY qc.qid, codes.vec_id
),
ranked AS (
  SELECT *, row_number() OVER
    (PARTITION BY qid ORDER BY hamming ASC, vec_id ASC) AS rk
  FROM scored
)
SELECT qid AS query_id, vec_id, hamming
FROM ranked WHERE rk <= {k}
"""


def hamming_rerank_topk(
    emb: DataFrame,
    queries: DataFrame | None = None,
    dims: int = 64,
    k: int = 5,
    shortlist: int = 32,
    scale: int = 1_000_000,
) -> DataFrame:
    """The binary tier's PRODUCTION serving path: Hamming shortlist →
    exact cosine re-rank — DataFrame[query_id, vec_id, score].

    Step 1 scans packed words (1 bit/dim, XOR+POPCNT codegen) for the
    top-``shortlist`` candidates per query; step 2 re-ranks just those
    with the exact float cosine (rounded 6 dp, ties by vec_id — the
    cosine_topk conventions). This is how every binary-quantization
    deployment runs (the faiss/vector-DB BQ + rescore shape): the
    32×-compressed scan does the corpus-sized work, the float kernel
    touches shortlist·n_queries rows only.

    The re-rank makes the result oracle-able END TO END: the shortlist
    is exact integer arithmetic, the re-rank is the already-oracled
    rounded-cosine expression."""
    cand = hamming_topk(emb, queries, dims, shortlist, scale)
    base = _vec_df(emb)
    qside = base.select(
        F.col("vid").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    # Catalyst fold, NOT dot_vec (r11): the rerank set is
    # n_queries×shortlist rows — small enough that the Arrow
    # batch transfer costs more than the interpreted fold saves
    # (r10's dot_vec swap here regressed ~1.6-2× in every committed
    # artifact; per-site A/B in OPTIMIZATION_r11.md)
    scored = (
        cand.join(base, cand["vec_id"] == base["vid"])
        .join(qside, "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(
                dot(F.col("qv"), F.col("v"))
                / (F.col("qnrm") * F.col("nrm")),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .drop("rk")
    )


def hamming_rerank_topk_sql(
    dims: int = 64,
    k: int = 5,
    shortlist: int = 32,
    scale: int = 1_000_000,
    query_filter: str = "TRUE",
) -> str:
    """DuckDB twin of :func:`hamming_rerank_topk`."""
    return f"""
WITH {_binary_code_cte(dims, scale)},
qc AS (
  SELECT vec_id AS qid, word, wv AS qwv FROM codes
  WHERE {query_filter}
),
hscored AS (
  SELECT qc.qid, codes.vec_id,
         CAST(SUM(bit_count(xor(qc.qwv, codes.wv))) AS BIGINT)
           AS hamming
  FROM qc JOIN codes USING (word)
  WHERE qc.qid <> codes.vec_id
  GROUP BY qc.qid, codes.vec_id
),
cand AS (
  SELECT qid, vec_id FROM (
    SELECT *, row_number() OVER
      (PARTITION BY qid ORDER BY hamming ASC, vec_id ASC) AS rk
    FROM hscored
  ) WHERE rk <= {shortlist}
),
v AS (
  SELECT CAST(vec_id AS BIGINT) AS vid,
         CAST(embedding AS DOUBLE[]) AS vec
  FROM embeddings
),
rescored AS (
  SELECT cand.qid AS query_id, cand.vec_id,
         ROUND(list_dot_product(qv.vec, cv.vec)
               / (sqrt(list_dot_product(qv.vec, qv.vec))
                  * sqrt(list_dot_product(cv.vec, cv.vec))), 6)
           AS score
  FROM cand
  JOIN v qv ON qv.vid = cand.qid
  JOIN v cv ON cv.vid = cand.vec_id
),
ranked AS (
  SELECT *, row_number() OVER
    (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rk
  FROM rescored
)
SELECT query_id, vec_id, score FROM ranked WHERE rk <= {k}
"""


def jl_signs(
    in_dim: int, out_dim: int, seed: int = 0
) -> list[list[int]]:
    """The ±1 Rademacher projection matrix as pinned literals: entry
    (j, i) is the md5 parity of ("jl", seed, j, i) — both engines
    receive the SAME literal matrix from this one generator, so the
    projection is a deterministic linear map, not a hidden golden."""
    import hashlib

    def h(key: str) -> int:
        return int(hashlib.md5(key.encode()).hexdigest()[:15], 16)

    return [
        [1 - 2 * (h(f"jl-{seed}-{j}-{i}") % 2) for i in range(in_dim)]
        for j in range(out_dim)
    ]


def jl_projection(
    emb: DataFrame,
    in_dim: int = 64,
    out_dim: int = 8,
    scale: int = 1000,
    seed: int = 0,
) -> DataFrame:
    """Johnson-Lindenstrauss sketch of the embedding column with a ±1
    (Rademacher) matrix — Achlioptas (JCSS'03) shows database-friendly
    sign entries satisfy the JL distance-preservation lemma, no
    Gaussians needed: DataFrame[vec_id, dim_idx, value] with
    value_j = Σ_i sign(j,i)·round(e_i·scale), exact BIGINTs through
    the engine's quantize bridge.

    The dimensionality-reduction counterpart of the PCA projection
    (similarity.embedding_pca): data-INDEPENDENT (no training pass, no
    scatter matrix — the right choice when the corpus drifts or the
    projection must be fixed before data arrives) at the price of
    being distribution-agnostic. Same execution shape as PCA's
    Catalyst projection: the matrix is literals, so the whole map is
    ONE shuffle-free codegen projection per row — no join, no
    aggregate, no Python. Downstream ANN/SemDeDup can run in the
    sketched space at out_dim/in_dim the cost.
    """
    qv = F.transform(
        F.slice(F.col("embedding"), 1, in_dim),
        lambda e: F.round(e.cast("double") * F.lit(float(scale)))
        .cast("bigint"),
    )
    signs = jl_signs(in_dim, out_dim, seed)
    base = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"), qv.alias("q")
    )
    outs = [
        sum(
            (
                F.element_at(F.col("q"), i + 1)
                if signs[j][i] > 0
                else -F.element_at(F.col("q"), i + 1)
            )
            for i in range(in_dim)
        ).alias(f"y{j}")
        for j in range(out_dim)
    ]
    wide = base.select("vec_id", *outs)
    stack = ", ".join(f"{j}L, y{j}" for j in range(out_dim))
    return wide.select(
        "vec_id",
        F.expr(f"stack({out_dim}, {stack}) AS (dim_idx, value)"),
    ).select("vec_id", "dim_idx", "value")


def jl_projection_sql(
    in_dim: int = 64,
    out_dim: int = 8,
    scale: int = 1000,
    seed: int = 0,
) -> str:
    """DuckDB twin of :func:`jl_projection` — the same literal sign
    matrix from the same generator, same quantize bridge."""
    signs = jl_signs(in_dim, out_dim, seed)
    qd = (
        "SELECT vec_id, "
        + ", ".join(
            f"CAST(round(CAST(embedding[{i + 1}] AS DOUBLE) * {scale})"
            f" AS BIGINT) AS q{i}"
            for i in range(in_dim)
        )
        + " FROM embeddings"
    )
    rows = " UNION ALL ".join(
        f"SELECT vec_id, CAST({j} AS BIGINT) AS dim_idx, "
        + " + ".join(
            f"({'' if signs[j][i] > 0 else '-'}q{i})"
            for i in range(in_dim)
        )
        + " AS value FROM qd"
        for j in range(out_dim)
    )
    return f"WITH qd AS MATERIALIZED ({qd}) {rows}"


def mutual_knn_pairs(
    emb: DataFrame,
    k: int = 3,
    topk: DataFrame | None = None,
) -> DataFrame:
    """Reciprocal nearest-neighbor pairs: DataFrame[vec_a, vec_b,
    score] with vec_a < vec_b, keeping (a, b) only when b is in a's
    cosine top-k AND a is in b's — the mutual-kNN filter image-dedup
    and SNN-clustering pipelines run on top of any ANN tier, because
    one-directional neighborhood membership is cheap to satisfy in a
    dense region while reciprocity is the actual symmetry of "these
    two are each other's duplicates".

    Built as pure pair algebra over the engine's exact
    :func:`cosine_topk` self-search (queries = full corpus): one
    self-join of the top-k table on the reversed key. Swapping in a
    celled tier (ivf_topk etc.) changes the candidate generator, not
    this reciprocity join — pass its DataFrame[query_id, vec_id,
    score] as ``topk`` (the production path; see
    ``x_mutual_knn_ivf``). Score is the cosine (identical in both
    directions by symmetry — the join keeps a's copy).

    Scale: the top-k table is k·N rows; the reciprocity join is an
    equi-join on (query_id, vec_id) — candidate-sized, never
    corpus-squared. The dominant cost is the full-corpus exact
    scoring pass itself (queries = the whole corpus — the brute
    baseline; production swaps in a celled generator), so this
    operator follows the engine's exact-baseline convention:
    correctness-gated, not in the bench headline set.
    """
    if topk is None:
        topk = cosine_topk(emb, k=k)
    topk = topk.select("query_id", "vec_id", "score")
    rev = topk.select(
        F.col("vec_id").alias("query_id"),
        F.col("query_id").alias("vec_id"),
    )
    return (
        topk.join(rev, ["query_id", "vec_id"], "left_semi")
        .where(F.col("query_id") < F.col("vec_id"))
        .select(
            F.col("query_id").alias("vec_a"),
            F.col("vec_id").alias("vec_b"),
            "score",
        )
    )


def mutual_knn_pairs_sql(k: int = 3) -> str:
    """DuckDB twin of :func:`mutual_knn_pairs` (brute generator)."""
    return mutual_knn_from_sql(cosine_topk_sql(k))


def mutual_knn_from_sql(topk_sql: str) -> str:
    """Reciprocity join over ANY top-k SQL producing (query_id,
    vec_id, score) — the SQL twin of passing ``topk=`` to
    :func:`mutual_knn_pairs`. Compose with :func:`ivf_topk_sql` for
    the celled production shape."""
    return f"""
WITH topk AS ({topk_sql})
SELECT a.query_id AS vec_a, a.vec_id AS vec_b, a.score
FROM topk a
JOIN topk b ON b.query_id = a.vec_id AND b.vec_id = a.query_id
WHERE a.query_id < a.vec_id
"""
