"""Vector (array<double>) expressions for similarity search.

Pure Catalyst higher-order functions; element-sequential sums keep float
results bit-deterministic across partitionings and matching the DuckDB
oracle's ``list_dot_product`` evaluation order.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double_vec(col: Column) -> Column:
    """Cast array<float> (or any numeric array) to array<double>."""
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _make_dot_vec():
    """Vectorized twin of :func:`dot` for PAIR-SIZED hot paths (r10,
    guide §4.2): Catalyst higher-order functions run INTERPRETED (no
    whole-stage codegen), so the fold above costs ~interpreter-dispatch
    per element — measured as the dominant job of every exact cosine
    rescore at sf0.1 (candidate-pair count × dim elements; the two 11 s
    jobs of x_semdedup_survivors were exactly this). This Arrow kernel
    computes the SAME strict left fold — acc starts at 0.0 and adds
    x[j]·y[j] in ascending j, one numpy vector op per dimension over
    the batch, no BLAS matmul and no pairwise re-association — so every
    score is bit-identical to the Catalyst fold and to DuckDB's
    list_dot_product (same IEEE double sequence; this is the
    sign_sketch/_d2_to_centers parity argument, reused).

    Marked non-deterministic as an optimizer fence (guide §4.4): the
    callers filter on the computed score, and the pushed-down filter
    would otherwise duplicate the ArrowEvalPython node (one evaluation
    below the filter, one in the surviving projection). The function is
    pure; the marking only stops the optimizer from re-evaluating it.
    """
    import numpy as np
    import pandas as pd

    def _dot_seq(a, b):
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        # NULL contract (r11, ADVICE): the Catalyst fold propagates NULL
        # for a null array on either side and for mismatched lengths
        # (zip_with pads with null → x*y null → acc+null null). np.array
        # over a ragged/None-bearing batch instead raised, so any null
        # embedding reaching a rescore site failed the whole job. Mask
        # those rows out and emit NaN (pyarrow's from_pandas maps NaN to
        # SQL NULL), folding only the valid uniform-dim majority.
        av = a.to_numpy()
        bv = b.to_numpy()
        n = len(av)
        valid = np.array(
            [
                x is not None
                and y is not None
                and len(x) == len(y)
                for x, y in zip(av, bv)
            ]
        )
        if not valid.all():
            out = np.full(n, np.nan)
            if valid.any():
                sub = _dot_seq(a[valid], b[valid])
                out[valid] = sub.to_numpy()
            return pd.Series(out)
        # ragged-but-pairwise-equal lengths: group rows by length so
        # each subfold is rectangular (same strict per-row result);
        # np.array over a ragged batch would raise
        lens = np.array([len(r) for r in av])
        uniq = np.unique(lens)
        if len(uniq) > 1:
            out = np.empty(n, dtype=np.float64)
            for ln in uniq:
                m = lens == ln
                out[m] = _dot_seq(a[m], b[m]).to_numpy()
            return pd.Series(out)
        x = np.array(a.tolist(), dtype=np.float64)
        y = np.array(b.tolist(), dtype=np.float64)
        if x.ndim == 1:
            # zero-length vectors: the empty fold is 0.0
            return pd.Series(np.zeros(n))
        acc = np.zeros(len(x))
        for j in range(x.shape[1]):
            acc += x[:, j] * y[:, j]
        return pd.Series(acc)

    # explicit annotations (not string hints): the module's
    # `from __future__ import annotations` plus function-local imports
    # would leave pandas_udf's signature inference with unresolvable
    # 'pd.Series' strings
    _dot_seq.__annotations__ = {
        "a": pd.Series,
        "b": pd.Series,
        "return": pd.Series,
    }
    from pyspark.sql.types import DoubleType

    # DataType object, not a DDL string: string return types are parsed
    # through the active SparkContext, which does not exist yet when a
    # Python WORKER imports this module to unpickle a UDF
    return F.pandas_udf(_dot_seq, DoubleType()).asNondeterministic()


def block_dot(x, y, max_cells: int = 4_000_000):
    """All-pairs strict-fold dot products of two row blocks: for
    ``x`` (m×d) and ``y`` (n×d) float64 matrices, returns the m×n
    matrix ``D[i, k] = dot(x[i], y[k])`` where every entry is the SAME
    strict left fold as :func:`dot` / :func:`dot_vec` — acc starts at
    0.0 and adds x[i,j]·y[k,j] in ascending j (one rank-1 outer-product
    accumulation per dimension, no BLAS matmul and no pairwise
    re-association), so every score is bit-identical to the Catalyst
    fold and to DuckDB's list_dot_product (r11; the cell-pair-grouped
    rescore ships each vector once per neighbor cell instead of once
    per candidate pair — guide §8 "move heavy bytes once" — and this
    kernel is where the pairs are actually scored).

    ``max_cells`` bounds the in-flight accumulator: x is processed in
    row chunks so each chunk's m'×n accumulator stays ≤ max_cells
    entries (~32 MB at the default), whatever the cell sizes are.
    Returns a list of (row_chunk_start, chunk_matrix) pieces.
    """
    import numpy as np

    m, d = x.shape
    n = y.shape[0]
    step = max(1, max_cells // max(n, 1))
    pieces = []
    for s in range(0, m, step):
        xs = x[s : s + step]
        acc = np.zeros((xs.shape[0], n))
        for j in range(d):
            acc += np.multiply.outer(xs[:, j], y[:, j])
        pieces.append((s, acc))
    return pieces


_DOT_VEC = None


def dot_vec(a: Column, b: Column) -> Column:
    """Bit-identical vectorized :func:`dot` (see :func:`_make_dot_vec`);
    the UDF object is built lazily on first use and cached."""
    global _DOT_VEC
    if _DOT_VEC is None:
        _DOT_VEC = _make_dot_vec()
    return _DOT_VEC(a, b)


def norm(a: Column) -> Column:
    """L2 norm of an array<double> column."""
    return F.sqrt(dot(a, a))
