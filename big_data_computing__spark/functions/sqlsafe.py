"""Literals injected into generated SQL: strings and doubles.

Several operators parameterize generated SQL (Spark ``F.expr`` CASE
arms and their DuckDB twins) with caller-supplied strings — stratum
names, split labels, KMV set labels. A value containing a single
quote would otherwise break both engines' parsers (or worse, change
the query). Every interpolation site routes through :func:`sql_str`
so the literal is always well-formed; identifiers are NOT covered
(column/expr parameters remain the caller's trusted input, the same
contract as Spark's own ``F.expr``).

Floats go through :func:`sql_double`. Spark SQL reads a bare ``0.008``
as a DECIMAL literal, which would silently turn the arithmetic around
it into decimal arithmetic. Text run as ``spark.sql(text, name=df)``
is read by ``str.format`` first, so a literal brace in it must be
doubled.
"""

from __future__ import annotations

import math


def sql_str(value: str) -> str:
    """Render ``value`` as a single-quoted ANSI SQL string literal,
    doubling embedded quotes (identical semantics in Spark SQL and
    DuckDB)."""
    return "'" + str(value).replace("'", "''") + "'"


def sql_double(value: float) -> str:
    """Render ``value`` as a Spark SQL DOUBLE literal that reads back
    bit-identical: ``repr`` is the shortest decimal that round-trips,
    and the ``D`` suffix keeps it a DOUBLE. A negative value is
    parenthesized so it stays one operand next to another operator.
    NaN and ±inf have no literal form and raise."""
    x = float(value)
    if not math.isfinite(x):
        raise ValueError(f"no SQL DOUBLE literal for {value!r}")
    text = repr(x) + "D"
    return f"({text})" if text.startswith("-") else text
