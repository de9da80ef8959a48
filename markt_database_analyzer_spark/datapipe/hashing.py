"""Engine-portable deterministic hashing.

All dedup/similarity operators need a hash that is (a) deterministic across
runs and executors, (b) identical in Spark and in external SQL engines so
differential oracles stay exact. ``xxhash64`` is Spark-only; ``hash()`` in
other engines uses different algorithms. The portable choice: the first 15
hex digits of md5 as a 60-bit non-negative int64.

Spark:  conv(substring(md5(x), 1, 15), 16, 10)::bigint
DuckDB: ('0x' || substring(md5(x), 1, 15))::bigint

(verified bit-identical). md5 is ~2× slower than xxhash64 but still
JVM-side and codegen-friendly.

Seeded variants prepend ``"<seed>|"`` so k independent hash families can be
derived for MinHash.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hash60(col: Column | str, seed: int | None = None) -> Column:
    """Portable 60-bit hash of a string column (seeded if ``seed`` given)."""
    c = F.col(col) if isinstance(col, str) else col
    if seed is not None:
        c = F.concat(F.lit(f"{seed}|"), c)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def sql_hash60(expr: str, seed: int | None = None) -> str:
    """DuckDB rendering of :func:`hash60` for oracle SQL."""
    if seed is not None:
        expr = f"('{seed}|' || {expr})"
    return f"(('0x' || substring(md5({expr}), 1, 15))::BIGINT)"
