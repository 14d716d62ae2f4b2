"""Portable hashing kernels for oracle-checkable dedup/similarity ops.

The dedup family (MinHash, SimHash, n-gram Jaccard) needs hash
functions that produce IDENTICAL values in Spark and in the DuckDB
oracle. Engine-native hashes (Spark ``xxhash64``/``hash`` vs DuckDB
``hash``) differ, so the portable primitive here is md5:

- string hash:  ``md5(s)`` — identical hex in both engines.
- sliced hash:  hex digits ``[8j, 8j+8)`` of one ``md5(s)`` — four
  independent hash functions per digest (used for MinHash signatures).
- numeric hash: first 8 hex chars of md5 parsed as a big-endian
  integer — Spark ``conv(substr(md5(s),1,8),16,10)`` ==
  DuckDB ``CAST('0x' || substr(md5(s),1,8) AS BIGINT)``.

These run inside whole-stage codegen (JVM built-ins), so the "portable"
choice costs nothing vs xxhash64 in practice at the scales involved
(the md5 is over short shingles, not whole documents).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_slice(j: int, col: Column) -> Column:
    """Hash function j (0..3) as hex digits [8j, 8j+8) of ONE md5.

    A 128-bit md5 yields four independent 32-bit hash values, so a
    4-member MinHash family costs one digest per shingle instead of
    four — the md5 is the dominant cost of signature computation.
    DuckDB twin: ``substr(md5(s), 8*j+1, 8)``.
    """
    if not 0 <= j <= 3:
        raise ValueError("md5_slice supports j in 0..3 (128-bit digest)")
    return F.substring(F.md5(col), 8 * j + 1, 8)


def md5_int32(col: Column) -> Column:
    """First 32 bits of md5 as a non-negative bigint (portable)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def char_shingles(col: Column, k: int = 5) -> Column:
    """All k-char shingles of a string as an array<string>.

    Pure SQL-function implementation (sequence + transform), so it
    stays JVM-side; DuckDB twin: generate_series + substr (lateral).
    """
    name = _name(col)
    # guard: sequence(1, 0) counts DOWN in Spark, so short strings need
    # an explicit empty-array branch (DuckDB generate_series(1,0) is empty).
    return F.expr(
        f"CASE WHEN length({name}) >= {k} THEN "
        f"transform(sequence(1, length({name}) - {k - 1}), i -> substring({name}, i, {k})) "
        f"ELSE array() END"
    )


def word_shingles(col: Column, n: int = 3) -> Column:
    """n-word shingles (space-joined) as array<string>."""
    name = _name(col)
    toks = f"split({name}, '\\\\s+')"
    return F.expr(
        f"CASE WHEN size({toks}) >= {n} THEN "
        f"transform(sequence(1, size({toks}) - {n - 1}), "
        f"i -> array_join(slice({toks}, i, {n}), ' ')) ELSE array() END"
    )


def _name(col: Column | str) -> str:
    if isinstance(col, str):
        return col
    # Column's SQL fragment; only used for simple column refs here.
    return col._jc.toString()  # noqa: SLF001
