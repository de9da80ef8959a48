"""Top-K per group (SURVEY.md §2.9 — generalization of the reference's
sorted-output sinks, analyse.py:88,496).

``row_number`` over a per-group ordering, filtered to ≤ k. One shuffle on
the group keys; with AQE the skewed-group case splits automatically. For
global top-k use ``orderBy(...).limit(k)`` — Spark implements it as a
per-partition top-k + single reduce (TakeOrderedAndProject), no full sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    group_keys: list[str],
    order: list[Column | str],
    k: int,
) -> DataFrame:
    w = Window.partitionBy(*group_keys).orderBy(*order)
    return df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
