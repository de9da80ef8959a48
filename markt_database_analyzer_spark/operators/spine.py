"""Spine generation + left join + fill (SURVEY.md §2.3 J4, §2.7 B3).

The reference guarantees a complete axis (all 24 hours / all 144 or 288
bins) via ``reindex(fill_value=0)`` (analyse.py:224,295) and categorical
``groupby(observed=False)`` (analyse.py:86). Spark shape: generate the spine
with ``spark.range`` (no data shuffle — it's a local scan) and LEFT join the
aggregate onto it.

Two fill flavors, both needed (SURVEY.md §7 "what's hard" #4):
- counts → ``coalesce(n, 0)``  (reindex fill_value=0)
- rates  → keep null            (pandas mean of empty bin = NaN, so the
  centered rolling mean *skips* it — zero-filling would drag the curve down)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def join_spine(
    spine: DataFrame,
    agg: DataFrame,
    on: str | list[str],
    zero_fill: list[str] | None = None,
) -> DataFrame:
    """Left-join ``agg`` onto the complete ``spine``; zero-fill the named
    columns, leave the rest null (rate semantics)."""
    out = spine.join(agg, on=on, how="left")
    for c in zero_fill or []:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)))
    return out
