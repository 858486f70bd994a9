"""Composed pipelines mirroring the reference's end-to-end entry points.

EP2 (big_data_computing_2.py:118-171): read points → MRFFT(K) → use the
clustering radius as the distance threshold D for MRApproxOutliers.
The engine composes the same flow from its operator library, returning
both the summary DataFrame and the instrumentation the reference prints
(per-round ms, radius — big_data_computing_2.py:162-165).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .clustering import MRFFTResult, mr_fft
from .outliers import approx_outliers_summary


def clean_corpus(
    docs: DataFrame,
    min_quality: float = 0.45,
    lang: str = "en",
    text_col: str = "text",
) -> DataFrame:
    """End-to-end LLM-corpus curation pipeline: DataFrame[doc_id] of the
    documents that survive all four stages —

    1. quality filter  (heuristic score ≥ min_quality, textstats.py)
    2. language filter (marker-word language ID == lang)
    3. exact dedup     (min doc_id per normalized-text fingerprint)
    4. near-dup dedup  (MinHash-LSH pairs → connected components → one
       survivor per component, dedup.py)

    Each stage is the already-oracled operator; the composition is one
    declarative plan per stage boundary (joins/semi-joins on doc_id — no
    text column ever shuffles past stage 2, and stages 3-4 move only
    (hash, id) pairs). The SQL twin (:func:`clean_corpus_sql`) runs the
    identical four stages in DuckDB, so the whole pipeline — not just
    its pieces — is correctness-checked.
    """
    from .dedup import dedup_survivors, minhash_lsh_pairs
    from .textstats import quality_lang_gate
    from ..functions.hashing import hash60
    from ..functions.text import normalized

    # stages 1+2 fused into one join-free per-row filter (r10): both
    # scores are stateless Catalyst expressions, so the old
    # docs ⋈ quality_scores ⋈ language_id shape re-shuffled the text
    # column twice for a filter a single WHERE expresses (row-identity
    # with the join form pinned in tests + the unchanged SQL twin)
    kept = quality_lang_gate(docs, text_col, min_quality, lang).select(
        "doc_id", text_col
    )
    fp = kept.select(
        "doc_id", hash60(normalized(F.col(text_col))).alias("f")
    )
    exact_keep = fp.groupBy("f").agg(F.min("doc_id").alias("doc_id"))
    # read twice (LSH pairs + survivor anti-join); localCheckpoint so the
    # persisted stage is freed on GC rather than at session end
    kept2 = kept.join(
        exact_keep.select("doc_id"), "doc_id", "left_semi"
    ).localCheckpoint()
    pairs = minhash_lsh_pairs(kept2, text_col=text_col)
    return dedup_survivors(kept2.select("doc_id"), pairs)


def clean_corpus_sql(min_quality: float = 0.45, lang: str = "en") -> str:
    """DuckDB twin of :func:`clean_corpus` — the same four stages
    composed over the `documents` view."""
    from .dedup import duplicate_components_sql, minhash_lsh_pairs_sql
    from .textstats import language_id_sql, quality_scores_sql

    norm = "trim(regexp_replace(lower(text), ' +', ' ', 'g'))"
    from ..functions.hashing import hash60_sql

    pairs_sql = minhash_lsh_pairs_sql(source="kept2")
    comp_sql = duplicate_components_sql(
        f"SELECT doc_a, doc_b FROM ({pairs_sql})"
    )
    return f"""
WITH q AS ({quality_scores_sql()}),
l AS ({language_id_sql()}),
kept AS (
  SELECT d.doc_id, d.text FROM documents d
  JOIN q ON q.doc_id = d.doc_id
  JOIN l ON l.doc_id = d.doc_id
  WHERE q.quality_score >= {min_quality!r} AND l.pred_lang = '{lang}'
),
fp AS (SELECT doc_id, {hash60_sql(norm)} AS f FROM kept),
ek AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY f),
kept2 AS (SELECT k.doc_id, k.text FROM kept k JOIN ek ON ek.doc_id = k.doc_id)
SELECT doc_id FROM kept2
WHERE doc_id NOT IN (
  SELECT doc_id FROM ({comp_sql}) WHERE doc_id <> component_id
)"""


@dataclass
class FFTOutlierResult:
    radius: float
    summary: DataFrame
    fft: MRFFTResult
    timings_ms: dict[str, int]


def fft_radius_outliers(
    points_2d: DataFrame,
    k: int,
    l: int,
    m: int,
    seed: int = 0,
    id_col: str = "id",
    x: str = "x",
    y: str = "y",
) -> FFTOutlierResult:
    """HW2 flow: k-center radius on the 2-D points, then grid-approximate
    (M, D=radius)-outlier summary (reference big_data_computing_2.py:161-169).

    The 2-D points are lifted to the d-dim features form for MRFFT, then
    the returned radius parameterizes the cell grid.
    """
    pts_nd = points_2d.sparkSession.sql(
        f"SELECT {id_col} AS id, "
        f"array(CAST({x} AS DOUBLE), CAST({y} AS DOUBLE)) AS features "
        "FROM {points}",
        points=points_2d,
    )
    fft = mr_fft(pts_nd, k=k, l=l, seed=seed)
    t0 = time.time()
    summary = approx_outliers_summary(points_2d, fft.radius, m, x=x, y=y)
    timings = dict(fft.timings_ms)
    timings["approx_outliers_plan_ms"] = int((time.time() - t0) * 1000)
    return FFTOutlierResult(
        radius=fft.radius, summary=summary, fft=fft, timings_ms=timings
    )
