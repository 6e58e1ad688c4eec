"""Portable hashing and digests, each as a Spark ``Column`` and its
DuckDB SQL twin.

Anything that feeds a DuckDB oracle hashes through md5, never
xxhash64: both engines compute the same md5 hex string, and the first
``n`` hex digits read as an integer give the same value on both. With
n ≤ 15 the value is below 2⁶⁰, so it fits BIGINT exactly on both
sides (Spark ``conv`` returns the digits as a decimal string, DuckDB
parses the ``0x`` literal as UBIGINT; both are cast to BIGINT).

The digest is the order-free value pin of a set of integer terms:
Σ term, accumulated in DECIMAL(38,0) (the A105 overflow rule) and
reduced mod 2⁶¹−1 (a Mersenne prime), so the emitted value is
BIGINT-ranged at any corpus size. In ANSI mode
(``spark.sql.ansi.enabled=true``, the Spark 4 default that
``get_spark`` keeps) a BIGINT sum past 2⁶³ raises
ARITHMETIC_OVERFLOW and fails the whole query — a sum of 40-bit terms
gets there past ~2²³ rows, which lineitem-scale keys exceed at sf10 —
while DuckDB promotes SUM(BIGINT) to HUGEINT. DECIMAL(38,0) partial
sums survive ~1e26 rows of 40-bit terms, so both engines answer at
every scale. Both engines see only non-negative operands, so ``%`` is
engine-identical.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

DIGEST_MOD = (1 << 61) - 1  # Mersenne reduction of the digest sum


def md5_int(c: Column, n: int) -> Column:
    """md5 of a string column → first ``n`` hex digits → BIGINT."""
    return F.conv(F.substring(F.md5(c), 1, n), 16, 10).cast("bigint")


def md5_int_sql(expr: str, n: int) -> str:
    """DuckDB twin of ``md5_int`` over a VARCHAR expression."""
    return f"CAST(CAST(concat('0x', substr(md5({expr}), 1, {n})) AS UBIGINT) AS BIGINT)"


def digest(term: str) -> Column:
    """Order-free digest of a non-negative integer term (a SQL
    expression): Σ term in DECIMAL(38,0), mod 2⁶¹−1, as BIGINT."""
    return F.expr(f"CAST(SUM(CAST({term} AS DECIMAL(38,0))) % {DIGEST_MOD} AS BIGINT)")


def digest_sql(term: str) -> str:
    """DuckDB twin of ``digest``: SUM(BIGINT) is HUGEINT there (never
    overflows), so only the Mersenne reduction is needed."""
    return f"CAST(SUM({term}) % {DIGEST_MOD} AS BIGINT)"
