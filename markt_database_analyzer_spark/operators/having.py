"""HAVING threshold → left-semi restriction (SURVEY.md §2.3 J3, §2.5 A6).

The reference counts unique pushes per city on the *pre-join* profiles
(deliberately, so pushes without monitor rows still count — analyse.py:417-419),
keeps cities with ≥ N ads, then filters the merged frame with ``isin``
(analyse.py:422,431). Spark shape: groupBy-count + filter (HAVING), then a
**left-semi join** — the qualifying-keys side is tiny (distinct dimension
values) so Catalyst broadcasts it; no driver round-trip, unlike collecting
an isin list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def qualifying_keys(df: DataFrame, key: str, min_count: int) -> DataFrame:
    """Keys of ``df`` with at least ``min_count`` rows."""
    counted = df.groupBy(key).agg(F.count(F.lit(1)).alias("n"))
    return counted.filter(F.col("n") >= min_count).select(key)


def restrict_to_groups_with_min_count(
    fact: DataFrame,
    count_on: DataFrame,
    key: str,
    min_count: int,
) -> DataFrame:
    """Keep fact rows whose ``key`` meets the threshold measured on
    ``count_on`` (which may be a different frame than ``fact`` — see module
    docstring). The qualifying-key frame carries NO broadcast hint (r11
    audit): its cardinality is the number of groups passing the
    threshold — data-dependent, potentially millions at 100 TB — so AQE
    broadcasts it when the runtime size allows and shuffle-semi-joins
    otherwise."""
    keys = qualifying_keys(count_on, key, min_count)
    return fact.join(keys, on=key, how="left_semi")
