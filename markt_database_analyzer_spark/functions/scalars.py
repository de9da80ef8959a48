"""Scalar column functions (SURVEY.md §2.8 F1-F4, F9-F12).

All JVM-side built-ins — no Python UDFs in the hot path. The one reference
function that *was* a row-wise Python UDF (``assign_age_group``,
analyse.py:34-44) is provided both ways: ``age_group`` (native CASE chain,
the default) and ``datapipe.udfs.age_group_pandas_udf`` (Arrow-vectorized,
kept as the engine's worked scalar-UDF example).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Bowling et al.'s logistic approximation to the standard normal CDF,
# Phi(z) ~ 1 / (1 + exp(-1.5976 z - 0.07056 z^3)) — the p-value kernel of
# the stats entries. The two forms evaluate the same double expression in
# the same order, so Spark and DuckDB return identical bits.
SQL_NORM_CDF = "1.0 / (1.0 + exp(-1.5976 * ({z}) - 0.07056 * ({z}) * ({z}) * ({z})))"


def norm_cdf(z: Column) -> Column:
    """Spark twin of ``SQL_NORM_CDF``: Phi(z) for a double column."""
    return F.lit(1.0) / (F.lit(1.0) + F.exp(F.lit(-1.5976) * z - F.lit(0.07056) * z * z * z))


def contains_ci(col: Column | str, needle: str) -> Column:
    """Case-insensitive, null-safe substring match (F1).

    ``str.contains(needle, case=False, na=False)`` (analyse.py:50,53):
    null input → False, not null.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(F.lower(c).contains(needle.lower()), F.lit(False))


def categorize_by_contains(col: Column | str, rules: list[tuple[str, str]]) -> Column:
    """Nested CASE from ordered substring rules (F2, analyse.py:49-57).

    ``rules`` is an ordered list of (needle, label); first match wins,
    and a value no rule matches is ``'other'``.
    """
    expr = F.lit("other")
    for needle, label in reversed(rules):
        expr = F.when(contains_ci(col, needle), F.lit(label)).otherwise(expr)
    return expr


def age_group(age: Column | str) -> Column:
    """Range-bucket CASE (F3): 18-19 / 20-25 / 26+ else null (analyse.py:34-44)."""
    c = F.col(age) if isinstance(age, str) else age
    return (
        F.when(c.between(18, 19), F.lit("18-19"))
        .when(c.between(20, 25), F.lit("20-25"))
        .when(c >= 26, F.lit("26+"))
    )


def clip_at_zero(col: Column | str) -> Column:
    """``.clip(lower=0)`` / ``max(0, x)`` (F10, analyse.py:74,270,471)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.greatest(F.lit(0.0), c.cast("double"))


def rate_per_hour(delta_value: Column, delta_minutes: Column) -> Column:
    """Two-point slope in units/hour, div-by-zero-safe (F11).

    The reference guards ``delta_time > 0`` by filtering (analyse.py:72,267);
    ``try_divide`` keeps the expression total under ANSI regardless.
    """
    return F.try_divide(delta_value * F.lit(60.0), delta_minutes)


def hhmm_label(minute_of_day: Column | str) -> Column:
    """Zero-padded ``HH:MM`` from minute-of-day (F12, analyse.py:211)."""
    c = F.col(minute_of_day) if isinstance(minute_of_day, str) else minute_of_day
    return F.format_string("%02d:%02d", F.floor(c / 60).cast("int"), c.cast("int") % 60)
