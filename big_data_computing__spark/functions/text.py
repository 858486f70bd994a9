"""Text expressions: tokenization, shingles, n-grams — Catalyst-only.

Built for the `documents` table (whitespace-separated text). Every helper
has an exact DuckDB-SQL twin used by the correctness oracles, so the
semantics here are deliberately simple and portable: split on single
spaces, no locale-dependent behavior.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(text: Column) -> Column:
    """Whitespace tokens (empty strings filtered out)."""
    return F.filter(F.split(text, " "), lambda t: t != F.lit(""))


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def _bind_once(arr: Column, build) -> Column:
    """Evaluate the array expression ``arr`` ONCE per row and hand the
    result to ``build`` as a bound lambda variable (r10, guide §1.2 /
    §4: don't compute things twice).

    Catalyst has no common-subexpression elimination inside
    higher-order functions (they run interpreted), so an expression
    like the n-gram shift-and-zip chain that references its token
    array 2(n-1)+1 times re-runs the WHOLE tokenizer subtree
    (lower + regexp_replace + split + filter) per reference — the
    before-plan of x_dup_spans carried 19 copies of the tokenizer in
    one Generate. Wrapping the array in a 1-element array and building
    the chain inside ``transform``'s lambda makes every reference a
    cheap bound-variable read; element [0] unwraps. Same values,
    including null propagation (a null array stays null either way).
    """
    return F.transform(F.array(arr), build)[0]


def word_ngrams(text: Column, n: int) -> Column:
    """Array of space-joined word n-grams (distinct not applied).

    Shift-and-zip construction: the token array is evaluated once per
    row (``_bind_once``) and zipped against its own 1..n-1 shifted
    suffixes. The naive form — ``transform(range, i ->
    concat_ws(slice(toks, i, n)))`` — is quadratic, because
    higher-order-function lambdas re-evaluate the ``toks`` expression
    (split + filter over the raw text) per position; measured 42×
    slower on 2000-token documents. ``zip_with`` pads the shorter side
    with null and ``concat`` propagates it, so the trailing incomplete
    windows drop out in the final not-null filter.
    """
    if n == 1:
        return tokens(text)

    def build(toks: Column) -> Column:
        out = toks
        for j in range(1, n):
            shifted = F.slice(
                toks, j + 1, F.greatest(F.size(toks) - F.lit(j), F.lit(0))
            )
            out = F.zip_with(
                out, shifted, lambda a, b: F.concat(a, F.lit(" "), b)
            )
        return F.filter(out, lambda x: x.isNotNull())

    return _bind_once(tokens(text), build)


def char_shingles(text: Column, n: int) -> Column:
    """Array of character n-grams (shingles) of the raw text.

    Same shift-and-zip shape as :func:`word_ngrams` (see its docstring):
    one split into characters (evaluated once per row via
    ``_bind_once``), n-1 zips — linear in the text length, where the
    transform-over-positions form re-evaluates ``text`` (and copies a
    substring) per position.
    """
    # split('', '') yields [''] — drop empties so n=1 on an empty string
    # returns [] (matching the transform-based form this replaced)
    split_chars = F.filter(F.split(text, ""), lambda c: c != F.lit(""))
    if n == 1:
        return split_chars

    def build(chars: Column) -> Column:
        out = chars
        for j in range(1, n):
            shifted = F.slice(
                chars, j + 1, F.greatest(F.size(chars) - F.lit(j), F.lit(0))
            )
            out = F.zip_with(out, shifted, lambda a, b: F.concat(a, b))
        return F.filter(out, lambda x: x.isNotNull())

    return _bind_once(split_chars, build)


def normalized(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapsed whitespace."""
    return F.trim(F.regexp_replace(F.lower(text), " +", " "))
