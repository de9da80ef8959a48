"""Deterministic floating-point aggregation.

Plain ``sum``/``avg`` over doubles is order-dependent, and Spark's partial
aggregation order varies run-to-run with partitioning — the same query can
return results differing in the last ulps between runs, and differing from
any external system. That breaks (a) hash-based differential testing and
(b) reproducibility audits on a 1000-executor job.

Every float aggregate in the engine follows one rule: quantize each value
to an integer number of grid units (``round(x * scale)``), sum those
integers exactly, and divide the exact total back down:

- ``dsum``/``davg`` use the micro grid (``MICRO`` = 1e6) — prices, counts,
  rates, where 1e-6 loses nothing that survives float noise anyway;
- ``nsum`` uses the nano grid (``NANO`` = 1e9) — per-row masses of order
  1/N (PageRank contributions, entropy and divergence terms) that the
  micro grid would destroy.

Why it is exact and portable:

- integer rounding of a given double is identical in every engine
  (half-away-from-zero; exact-tie divergence has measure ~2^-52);
- integer addition is exact and associative → the aggregate is **bit-stable
  under any partitioning** and reproducible across engines;
- the final integer → double → /scale conversion is deterministic.

(The naive alternative — accumulating ``CAST(x AS DECIMAL)`` — is NOT
portable: engines disagree systematically on double→decimal conversion
below ~1e-10 per value, which accumulates across millions of rows.)

Accumulation: :func:`exact_long_sum` splits each quantized long into a
high and a low part and sums both through native LONG accumulators, then
rebuilds the exact total in Decimal128 once per group. The total is the
same integer a ``DECIMAL(38,0)`` sum computes, at native long-sum speed,
and it stays one aggregate expression, so no extra shuffle is needed.
Overflow envelope: each quantized value must fit a long (|x| < ~9.2e12
on the micro grid, ~9.2e9 on the nano grid), a group may hold up to 2^43
rows, and a group's absolute mass must stay under ~9.7e18 value units on
the micro grid (~9.7e15 on the nano grid). Past any of these ANSI mode
raises ``SparkArithmeticException``; nothing wraps silently.

Callers that need raw-float semantics use plain ``F.sum``/``F.avg``.

Money takes the same step onto coarser grids: integer cents (``CENTS`` =
1e2) and basis points (``BASIS_POINTS`` = 1e4).

This module is the one place that knows how a value is put on a grid
and how the grid integers are summed, on both engines: :func:`qlong`
(Spark) and :func:`sql_qlong` (DuckDB SQL, also valid Spark SQL inside
``F.expr``) are the quantize step, and ``SQL_DSUM``/``SQL_DAVG``/
``SQL_NSUM`` below are the DuckDB twins of ``dsum``/``davg``/``nsum``,
built from ``sql_qlong``. A sum that may pass 2^63 (raw moments Σa and
Σa·b of grid integers) is :func:`wide_sum`, the exact ``decimal(38,0)``
total, with its DuckDB twin :func:`sql_wide_sum`, the ``HUGEINT`` total.
A sum that stays inside a long is a plain ``F.sum`` of longs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

CENTS = 100.0
BASIS_POINTS = 10_000.0
MICRO = 1_000_000.0
NANO = 1_000_000_000.0


def exact_long_sum(q: Column) -> Column:
    """Exact DECIMAL(38,0) total of an integer-valued long column at
    native long-sum speed: split each value into (hi = q >> 20,
    lo = q - (hi << 20)) — exact integer identities, lo in [0, 2^20) —
    sum the two halves through whole-stage-codegen LONG accumulators,
    and reconstruct ``2^20·Σhi + Σlo`` in Decimal128 on the result rows
    only. The reconstructed total is the same exact integer
    ``F.sum(q.cast("decimal(38,0)"))`` computes (measured 3.5-4x faster
    on a 3.2M-row aggregate: Decimal128 accumulation is per-row BigDecimal
    work; this shape pays it once per GROUP), and it stays an aggregate
    EXPRESSION, so every existing .agg(...) call site composes unchanged.

    Overflow envelope (ANSI mode makes a violation a loud
    SparkArithmeticException, never a silent wrap): Σlo < n·2^20 needs
    n < 2^43 rows per (group, no partition bound — these are the final
    accumulators); Σhi ≈ Σ|q|/2^20 needs the group's absolute micro-unit
    mass under 2^63·2^20 ≈ 9.7e24, i.e. ~9.7e18 in value units — ~100x
    headroom over a 100 TB TPC-H Q1 group (~1.5e12 rows × ~4e4 price
    ≈ 6e16). Callers beyond that envelope use the pure-Decimal128 sum."""
    hi = F.shiftright(q, 20)
    lo = q - F.shiftleft(hi, 20)
    return (
        F.lit(1 << 20).cast("decimal(38,0)") * F.sum(hi).cast("decimal(38,0)")
        + F.sum(lo).cast("decimal(38,0)")
    )


def qlong(col: Column | str, scale: float = MICRO, cast: str = "long") -> Column:
    """Put a value on the grid: ``round(x · scale)`` as an integer,
    rounding half away from zero (the rounding DuckDB's ``round`` also
    uses). ``scale`` is the number of grid units per value unit
    (``CENTS``, ``BASIS_POINTS``, ``MICRO``, ``NANO``). ``cast`` is
    ``long`` (|x · scale| < 2^63, or ANSI mode raises) or
    ``decimal(38,0)`` for a site that accumulates past the long range;
    either holds the double's exact binary value, as DuckDB's casts do.
    :func:`sql_qlong` renders the same step for DuckDB."""
    c = F.col(col) if isinstance(col, str) else col
    q = F.round(c.cast("double") * F.lit(scale))
    if not cast.startswith("decimal"):
        return q.cast(cast)
    # Spark casts a double to decimal through its shortest decimal string,
    # which past 2^53 is not the double's value (4.4100545258615846e20
    # reads 441005452586158460000, not ...456832). Split the integral q
    # into three parts that each cast to long exactly (a power-of-two
    # quotient and a remainder below the divisor are exact doubles).
    hi = (q / F.lit(2.0**64)).cast("long")
    rest = q - hi.cast("double") * F.lit(2.0**64)
    mid = (rest / F.lit(2.0**32)).cast("long")
    lo = (rest - mid.cast("double") * F.lit(2.0**32)).cast("long")
    two32 = F.lit(1 << 32).cast(cast)
    return ((hi.cast(cast) * two32 + mid.cast(cast)) * two32 + lo.cast(cast)).cast(cast)


def sql_qlong(expr: str, scale: float = MICRO, cast: str = "BIGINT") -> str:
    """SQL twin of :func:`qlong`: ``CAST(round((expr) * scale) AS cast)``.
    ``cast`` is ``BIGINT`` for a value that feeds a long sum or is kept
    as a column, ``HUGEINT`` or ``DECIMAL(38,0)`` where the sum must
    accumulate past 2^63. The scale renders as a DECIMAL literal in
    DuckDB: a DOUBLE ``expr`` gives the same product as :func:`qlong`,
    but a FLOAT one would multiply in single precision, so cast FLOAT
    operands to DOUBLE first."""
    return f"CAST(round(({expr}) * {scale!r}) AS {cast})"


# DuckDB renderings of dsum()/davg()/nsum().
SQL_DSUM = f"(CAST(SUM({sql_qlong('{x}', cast='HUGEINT')}) AS DOUBLE) / {MICRO!r})"
SQL_DAVG = (
    f"(CAST(SUM({sql_qlong('{x}', cast='HUGEINT')}) AS DOUBLE)"
    f" / COUNT({{x}}) / {MICRO!r})"
)
SQL_NSUM = f"(CAST(SUM({sql_qlong('{x}', NANO, 'HUGEINT')}) AS DOUBLE) / {NANO!r})"


def dsum(col: Column | str) -> Column:
    """Order-insensitive (deterministic) sum of a double column, as double,
    quantized at 1e-6."""
    return (exact_long_sum(qlong(col)).cast("double") / F.lit(MICRO)).alias("dsum")


def davg(col: Column | str) -> Column:
    """Deterministic mean (nulls excluded from numerator and denominator,
    matching ``avg`` and pandas ``mean(skipna=True)``), quantized at 1e-6."""
    c = F.col(col) if isinstance(col, str) else col
    return ((exact_long_sum(qlong(c)).cast("double") / F.count(c)) / F.lit(MICRO)).alias("davg")


def nsum(col: Column | str) -> Column:
    """:func:`dsum`'s construction on the 1e-9 grid, for summed quantities
    of order 1/N where the 1e-6 grid would destroy the signal."""
    return exact_long_sum(qlong(col, NANO)).cast("double") / F.lit(NANO)


def wide_sum(a: Column | str, b: Column | str | None = None) -> Column:
    """Exact ``decimal(38,0)`` total of the integer column ``a``, or of
    the product ``a · b`` — the raw first and second moments of grid
    integers, which pass 2^63 long before 10^38. Only ``a`` is cast;
    ``b`` multiplies the decimal, so the product is exact too.
    :func:`sql_wide_sum` renders the same sum for DuckDB."""
    d = (F.col(a) if isinstance(a, str) else a).cast("decimal(38,0)")
    return F.sum(d if b is None else d * (F.col(b) if isinstance(b, str) else b))


def sql_wide_sum(a: str, b: str | None = None) -> str:
    """SQL twin of :func:`wide_sum`: ``sum(CAST(a AS HUGEINT) * b)``.
    ``b`` is inserted verbatim, so a product ``x * (y - 1)`` multiplies
    left to right in HUGEINT; wrapping it in parentheses would compute
    it in BIGINT first."""
    return f"sum(CAST({a} AS HUGEINT){'' if b is None else f' * {b}'})"


def nano_comoment(a: Column, b: Column, mean: Column) -> Column:
    """Σ (a - mean)(b - mean) with each product quantized to a bigint on
    the 1e-9 grid before the sum — the exact integer numerator of an
    autocovariance (``a`` a series, ``b`` its lag, ``mean`` their shared
    mean). Integer totals compose exactly, so ratios of two comoments are
    identical across engines and partitionings."""
    return F.sum(qlong((a - mean) * (b - mean), NANO))
