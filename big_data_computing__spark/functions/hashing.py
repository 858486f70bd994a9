"""Cross-engine deterministic hashing and counter-based pseudo-randomness.

The reference relies on stateful RNGs (``random.randint``/``uniform`` in the
samplers, big_data_computing_3.py:19-32; ``np.random.randint`` in FFT,
big_data_computing_2.py:19), which makes results irreproducible and — worse —
order-dependent, so they cannot be parallelized. The engine replaces stateful
RNG with a **counter-based PRNG**: ``u = hash(key) / 2^60`` where ``hash`` is
an md5-derived 60-bit integer. That makes every "random" decision a pure
function of the row it applies to, so the same algorithm is simultaneously

- deterministic (testable, golden-file friendly),
- embarrassingly parallel (no sequential RNG state), and
- reproducible in ANSI SQL (DuckDB computes the identical md5 → identical
  decision), which is what powers the correctness oracles for the sampling
  operators.

``hash60`` is the shared primitive: the first 15 hex chars of md5 as a
non-negative bigint (< 2^60). Spark: ``conv(substring(md5(s),1,15),16,10)``;
DuckDB: ``CAST('0x' || substr(md5(s),1,15) AS BIGINT)``. Both verified to
produce identical values.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TWO_POW_60 = float(2**60)

# Mersenne prime 2^31 - 1: universal-hash modulus for the MinHash family.
# Chosen so (a * x + b) stays below 2^62 — no bigint overflow in either
# Spark or DuckDB.
MINHASH_PRIME = 2147483647
# Knuth's multiplicative constant, used to derive per-function coefficients.
KNUTH = 2654435761


def hash60(col: Column, mode: str = "md5") -> Column:
    """Deterministic 60-bit non-negative hash of a string column.

    ``mode="md5"`` (default): identical across Spark and DuckDB (see
    module docstring) — the engine's canonical string → integer hash for
    sampling decisions, MinHash token ids, SimHash bit sources, and LSH
    bucket keys, and the only mode oracle runs may use.

    ``mode="xxhash64"``: the production fast path — Spark's JVM-intrinsic
    XXH64 (no cryptographic digest, no hex-string round-trip), folded to
    the same non-negative < 2^60 range. Several-fold cheaper per call;
    has NO DuckDB twin, so it is for production pipelines where
    cross-engine reproducibility is not needed (same determinism and
    distribution quality otherwise).
    """
    if mode == "md5":
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    if mode == "xxhash64":
        # pmod keeps the counter-based-PRNG contract: non-negative,
        # uniform over [0, 2^60)
        return F.pmod(F.xxhash64(col), F.lit(2**60))
    raise ValueError(f"unknown hash mode: {mode!r}")


def hash60_spark_sql(expr: str) -> str:
    """Spark SQL text of :func:`hash60` (md5 mode) over the string
    expression ``expr``, for plans built as one SQL text."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def hash60_sql(expr: str) -> str:
    """DuckDB SQL text equivalent of :func:`hash60` (for oracle queries)."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def uniform01(col: Column) -> Column:
    """Counter-based uniform(0,1) draw from a string key column."""
    return hash60(col) / F.lit(TWO_POW_60)


def uniform01_sql(expr: str) -> str:
    """DuckDB SQL text equivalent of :func:`uniform01`."""
    return f"({hash60_sql(expr)} / {TWO_POW_60!r})"


def minhash_coeff_a(i: int) -> int:
    """Multiplier of the i-th universal hash h_i(x) = (a_i·x + b_i) mod p."""
    a = (i * KNUTH + 1) % MINHASH_PRIME
    return a if a != 0 else 1


def minhash_coeff_b(i: int) -> int:
    """Offset of the i-th universal hash."""
    return (i * 40503 + 7) % MINHASH_PRIME


def minhash_value(token_hash: Column, i: int) -> Column:
    """h_i applied to a 60-bit token hash (reduced mod p first)."""
    p = F.lit(MINHASH_PRIME)
    x = token_hash % p
    return (F.lit(minhash_coeff_a(i)) * x + F.lit(minhash_coeff_b(i))) % p


def minhash_value_sql(token_hash_expr: str, i: int) -> str:
    """DuckDB SQL text equivalent of :func:`minhash_value`."""
    p = MINHASH_PRIME
    return (
        f"(({minhash_coeff_a(i)} * (({token_hash_expr}) % {p})"
        f" + {minhash_coeff_b(i)}) % {p})"
    )
