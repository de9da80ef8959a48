"""Deduplication (SURVEY.md §2.4 D1).

The reference dedups profile rows on the composite push key, keeping the
*first physical row*'s other attributes (``drop_duplicates(subset=...)``,
analyse.py:194,237,408,419). Spark's ``dropDuplicates`` keeps an *arbitrary*
row — fine when the survivors' non-key attributes are identical or unused,
wrong when they feed results. ``dedup_keep_first`` is the deterministic
form: ``row_number() == 1`` under an explicit tiebreak ordering — one window
shuffle on the key; AQE handles skewed keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dedup_keep_first(df: DataFrame, keys: list[str], order_by: list[Column | str]) -> DataFrame:
    """Keep exactly one row per key, the first under ``order_by`` (ties broken
    by the ordering — make it total for full determinism)."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
