"""As-of (point-in-time) join — an operator family the reference never
needed (SURVEY.md §2.3 marks it absent) but a time-series/training
pipeline does: for each left row, attach the most recent right-side value
at or before the left row's time, per key.

Spark has no native ASOF join; the naive encoding (inequality join +
max_by) explodes to O(left × right-per-key) intermediate rows. The
scalable plan here is the **union-sentinel** form:

    tag left rows (probe) and right rows (state) → unionByName
    → one window per key ordered by (time, side, seq)
    → ``last(struct(value), ignorenulls=True)`` over unbounded-preceding
      (the struct marks PRESENCE of a right row, so a matched row whose
      value is NULL still wins — pandas/DuckDB ASOF NULL semantics)
    → keep probe rows

One shuffle (the window partitioning), O(1) state per row, no row
explosion — the same merge-scan shape kdb/DuckDB execute natively. Ties:
a right row at exactly t is visible to a left row at t (<=-semantics,
side ordering), and equal-time right rows resolve by ``right_seq``
(latest wins), which callers should pass to make the pick total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _match_struct_type(right: DataFrame, value_col: str) -> T.StructType:
    """1-field struct carrying the right-side value. The window pick runs
    on this struct, NOT on the bare value: ``last/first(_v, ignorenulls)``
    would skip a matched right row whose value IS NULL and surface an
    earlier/later row's value instead, diverging from pandas
    ``merge_asof`` / DuckDB ASOF (which match on time and carry the NULL
    through). The struct is non-null for every right row regardless of
    the value inside, so presence and value stay distinct."""
    return T.StructType([T.StructField("v", right.schema[value_col].dataType)])


def asof_join_last(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    value_col: str,
    right_seq: str | None = None,
) -> DataFrame:
    """Left as-of join: all ``left`` columns plus ``<value_col>_asof`` =
    the ``value_col`` of the latest right row with
    ``right_time <= left_time`` for the same ``key`` (null if none)."""
    out_col = f"{value_col}_asof"
    seq = F.col(right_seq) if right_seq else F.lit(0)
    lt = left.withColumn("_t", F.col(left_time)).withColumn("_side", F.lit(1)).withColumn(
        "_seq", F.lit(None).cast("long")
    ).withColumn("_m", F.lit(None).cast(_match_struct_type(right, value_col)))
    rt = right.select(
        F.col(key),
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_side"),
        seq.cast("long").alias("_seq"),
        F.struct(F.col(value_col).alias("v")).alias("_m"),
    )
    u = lt.unionByName(rt, allowMissingColumns=True)
    w = (
        Window.partitionBy(key)
        .orderBy("_t", "_side", "_seq")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        u.withColumn(out_col, F.last("_m", ignorenulls=True).over(w)["v"])
        .filter(F.col("_side") == 1)
        .drop("_t", "_side", "_seq", "_m")
    )


def asof_join_next(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    value_col: str,
    right_seq: str | None = None,
) -> DataFrame:
    """Forward as-of join (pandas merge_asof direction='forward'): all
    ``left`` columns plus ``<value_col>_asof_next`` = the ``value_col``
    of the EARLIEST right row with ``right_time >= left_time`` for the
    same ``key`` (null if none). The mirror of :func:`asof_join_last`:
    same union-sentinel merge — one shuffle, no row explosion — with
    the frame flipped to [current row, unbounded following] and left
    rows sorted BEFORE equal-time right rows so at-time matches count.
    Equal-time right ties break on ascending ``right_seq``."""
    out_col = f"{value_col}_asof_next"
    seq = F.col(right_seq) if right_seq else F.lit(0)
    lt = left.withColumn("_t", F.col(left_time)).withColumn("_side", F.lit(0)).withColumn(
        "_seq", F.lit(None).cast("long")
    ).withColumn("_m", F.lit(None).cast(_match_struct_type(right, value_col)))
    rt = right.select(
        F.col(key),
        F.col(right_time).alias("_t"),
        F.lit(1).alias("_side"),
        seq.cast("long").alias("_seq"),
        F.struct(F.col(value_col).alias("v")).alias("_m"),
    )
    u = lt.unionByName(rt, allowMissingColumns=True)
    w = (
        Window.partitionBy(key)
        .orderBy("_t", "_side", "_seq")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    return (
        u.withColumn(out_col, F.first("_m", ignorenulls=True).over(w)["v"])
        .filter(F.col("_side") == 0)
        .drop("_t", "_side", "_seq", "_m")
    )
