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

from .sqlsafe import sql_double

# Λ = D / (2·√2): the grid step that guarantees any two points in the same
# cell are within D, and points farther than 3 (7) cells are beyond D (3D)
# (reference: big_data_computing_1.py:62).
GRID_DIVISOR = 2.0 * math.sqrt(2.0)


def grid_lambda(d: float) -> float:
    """Cell side length Λ for distance threshold D."""
    return d / GRID_DIVISOR


def sq_dist_2d_spark_sql(x1: str, y1: str, x2: str, y2: str) -> str:
    """Squared Euclidean distance between two 2-D points, as Spark SQL
    text over four DOUBLE expressions.

    Kept squared so callers compare against D² and skip the sqrt
    (reference computes the sqrt per pair, big_data_computing_1.py:21 —
    unnecessary work the declarative form avoids). The operation order
    is fixed: ``(x1-x2)*(x1-x2) + (y1-y2)*(y1-y2)``.
    """
    return (
        f"(({x1} - {x2}) * ({x1} - {x2}) + ({y1} - {y2}) * ({y1} - {y2}))"
    )


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


def sq_dist_vec_spark_sql(a: str, b: str) -> str:
    """Spark SQL text of :func:`sq_dist_vec`: the same element-sequential
    sum, from 0.0, over two array<double> expressions."""
    return (
        f"aggregate(zip_with({a}, {b}, (u, v) -> (u - v) * (u - v)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def cell_coord_spark_sql(coord: str, lam: float) -> str:
    """Grid cell index ⌊coord / Λ⌋ as BIGINT, as Spark SQL text over a
    DOUBLE expression.

    Matches Python floor division (``//``) including negatives
    (reference: big_data_computing_1.py:63-64).
    """
    return f"CAST(FLOOR({coord} / {sql_double(lam)}) AS BIGINT)"
