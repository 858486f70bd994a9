"""Geometry expressions: distances and grid-cell identifiers.

Re-expresses the reference's per-row Python geometry as Catalyst
expressions (reference: ``euclidean_distance`` big_data_computing_1.py:9-21,
``cell_identifier`` big_data_computing_1.py:54-65 /
big_data_computing_2.py:61-70) so the hot path stays inside
whole-stage codegen — no UDFs.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

# Λ = D / (2·√2): the grid step that guarantees any two points in the same
# cell are within D, and points farther than 3 (7) cells are beyond D (3D)
# (reference: big_data_computing_1.py:62).
GRID_DIVISOR = 2.0 * math.sqrt(2.0)


def grid_lambda(d: float) -> float:
    """Cell side length Λ for distance threshold D."""
    return d / GRID_DIVISOR


def sq_dist_2d(x1: Column, y1: Column, x2: Column, y2: Column) -> Column:
    """Squared Euclidean distance between two 2-D points.

    Kept squared so callers compare against D² and skip the sqrt
    (reference computes the sqrt per pair, big_data_computing_1.py:21 —
    unnecessary work the declarative form avoids).
    """
    return (x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2)


def sq_dist_vec(a: Column, b: Column) -> Column:
    """Squared Euclidean distance between two array<double> vectors.

    Pure Catalyst higher-order functions (zip_with + aggregate): the sum
    runs element-sequentially, which keeps the float result deterministic
    and bit-identical across partitionings and engines.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda u, v: (u - v) * (u - v)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dist_vec(a: Column, b: Column) -> Column:
    """Euclidean distance between two array<double> vectors."""
    return F.sqrt(sq_dist_vec(a, b))


def cell_coord(coord: Column, lam: float) -> Column:
    """Grid cell index ⌊coord / Λ⌋ as long.

    Matches Python floor division (``//``) including negatives
    (reference: big_data_computing_1.py:63-64).
    """
    return F.floor(coord / F.lit(lam)).cast("long")
