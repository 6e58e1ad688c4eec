"""Reusable column expressions (all JVM-side — no Python UDFs).

Exact-aggregation note: double-precision SUM depends on accumulation
order, which differs between a 32-way parallel Spark aggregate and any
other engine — and between two Spark runs with different partitioning.
``dsum``/``davg`` therefore route money/measure sums through an exact
DECIMAL accumulator and cast the final value back to DOUBLE: the
result is bit-identical regardless of parallelism, so downstream
consumers (and the DuckDB correctness oracle) see stable values.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def money(c: ColumnOrName, scale: int = 2) -> Column:
    """Exact fixed-point view of a double money/measure column."""
    return _col(c).cast(f"decimal(18,{scale})")


def dsum(c: ColumnOrName, scale: int = 2) -> Column:
    """Order-independent (exact) sum of a double column, as double.

    Perf note (measured, sf0.1): a scaled-BIGINT accumulator
    (sum(round(x*10^s)::bigint)/10^s) is ~2.5x faster than DECIMAL,
    but in ANSI mode (``spark.sql.ansi.enabled=true``, the Spark 4
    default that ``get_spark`` keeps) a BIGINT sum past 2⁶³ raises
    ARITHMETIC_OVERFLOW, and one raised overflow fails the whole query
    — unacceptable for an engine sized for 100 TB facts. The DECIMAL
    accumulator has 38 digits of headroom, so it stays the default;
    swap in the long path only for bounded-domain columns where the
    product sum provably fits 63 bits."""
    return F.sum(money(c, scale)).cast("double")


def davg(c: ColumnOrName, scale: int = 2) -> Column:
    """Order-independent mean: exact decimal sum / count, in double."""
    return dsum(c, scale) / F.count(_col(c))


def clean_id(c: ColumnOrName, prefix: str) -> Column:
    """Normalize a business id: strip ONE leading prefix, cast to
    long; non-numeric leftovers become NULL (to_numeric coerce).

    Derived from the reference's ``limpiar_id`` (reference
    main.py:38-41) with an INTENTIONAL tightening: pandas
    ``str.replace(prefijo, '')`` deletes ALL occurrences anywhere
    ('CC7' → 7, '1C2' → 12), which silently manufactures ids from
    malformed input. Here only the anchored leading prefix is
    stripped, so 'CC7' / '1C2' coerce to NULL and flow into the
    reject/placeholder handling instead of becoming fabricated keys.
    The unit test (tests/test_operators.py::test_clean_id_semantics)
    encodes this tightened contract.
    """
    return F.regexp_replace(_col(c).cast("string"), f"^{prefix}", "").try_cast("bigint")
