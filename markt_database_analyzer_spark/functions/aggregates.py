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
The DuckDB twins of these helpers are ``catalog.SQL_DSUM``, ``SQL_DAVG``
and ``SQL_NSUM``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

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


def _qlong(col: Column | str, scale: float = MICRO) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c.cast("double") * F.lit(scale)).cast("long")


def dsum(col: Column | str) -> Column:
    """Order-insensitive (deterministic) sum of a double column, as double,
    quantized at 1e-6."""
    return (exact_long_sum(_qlong(col)).cast("double") / F.lit(MICRO)).alias("dsum")


def davg(col: Column | str) -> Column:
    """Deterministic mean (nulls excluded from numerator and denominator,
    matching ``avg`` and pandas ``mean(skipna=True)``), quantized at 1e-6."""
    c = F.col(col) if isinstance(col, str) else col
    return ((exact_long_sum(_qlong(c)).cast("double") / F.count(c)) / F.lit(MICRO)).alias("davg")


def nsum(col: Column | str) -> Column:
    """:func:`dsum`'s construction on the 1e-9 grid, for summed quantities
    of order 1/N where the 1e-6 grid would destroy the signal."""
    return exact_long_sum(_qlong(col, NANO)).cast("double") / F.lit(NANO)


def nano_comoment(a: Column, b: Column, mean: Column) -> Column:
    """Σ (a - mean)(b - mean) with each product quantized to a bigint on
    the 1e-9 grid before the sum — the exact integer numerator of an
    autocovariance (``a`` a series, ``b`` its lag, ``mean`` their shared
    mean). Integer totals compose exactly, so ratios of two comoments are
    identical across engines and partitionings."""
    return F.sum(F.round((a - mean) * (b - mean) * NANO).cast("bigint"))
