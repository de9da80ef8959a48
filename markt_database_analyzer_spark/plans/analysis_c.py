"""Analysis C — geographic ranking (analyse.py:356-513).

Average views gained in an ad push's first ~6.7 hours per city, restricted
to cities with ≥ N unique ad pushes. The per-push earliest/latest-snapshot
loop (analyse.py:445-478) becomes conditional ``min_by``/``max_by`` in one
hash aggregation (SURVEY.md §3.3).

Shuffle budget: ONE dedup of the profiles on (ad, push), one window over
the deduped profiles by city for the threshold count, a join of the
monitor rows with the surviving profiles (broadcast when the runtime size
allows), ONE aggregation over (ad, push) and one tiny aggregation over
city, sorted in a single partition. The threshold is a window count, not
a groupBy plus a left-semi join against the qualifying cities: that form
plans the profiles dedup twice (the copies differ in their inferred null
filters, so AQE cannot reuse the exchange) and adds an aggregate
exchange and a broadcast of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import blank_to_null, clip_at_zero, davg
from ..operators import dedup_keep_first, first_last_by_order
from .clean import KEY, clean_monitor


def views_gained_by_city(
    monitor: DataFrame,
    profiles: DataFrame,
    min_ads_per_city: int = 10,
    initial_max_age: float = 40.0,
    analysis_max_age: float = 400.0,
) -> DataFrame:
    """Return (city, avg_views_gained, n_pushes) ordered by avg desc."""
    prof = (
        profiles.withColumn("city", blank_to_null("city"))  # F5/F6 analyse.py:390-391
        .na.drop(subset=["ad_unique_id", "push_counter", "city"])
        .select(*KEY, "city")
    )
    prof_unique = dedup_keep_first(prof, KEY, order_by=[F.col("city")])

    # HAVING on the PRE-join profiles: pushes without monitor rows still
    # count toward the city threshold (deliberate, analyse.py:417-419).
    # One row per push after the dedup, so a count over the city window is
    # the number of unique pushes per city (analyse.py:422,431).
    qualified = (
        prof_unique.withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy("city")))
        .filter(F.col("__n") >= min_ads_per_city)
        .drop("__n")
    )

    # null keys never match in the inner join, which stands in for the
    # reference's dropna on them (analyse.py:386-388)
    merged = clean_monitor(monitor).join(qualified, on=KEY, how="inner")  # analyse.py:406-411

    per_push = first_last_by_order(
        merged,
        group_keys=KEY,
        order=F.col("ad_age_num"),
        value=F.col("views_num"),
        first_cond=F.col("ad_age_num") <= initial_max_age,  # analyse.py:450
        last_cond=F.col("ad_age_num") <= analysis_max_age,  # analyse.py:457
        tiebreak=F.col("id"),
        carry={"city": F.col("city")},
    )
    gained = (
        per_push.filter(F.col("first_order").isNotNull())  # no early record → drop
        .filter(F.col("last_order") > F.col("first_order"))  # strict-order guard :465
        .withColumn("views_gained", clip_at_zero(F.col("last_value") - F.col("first_value")))
    )
    return (
        gained.groupBy("city")
        .agg(davg("views_gained").alias("avg_views_gained"), F.count(F.lit(1)).alias("n_pushes"))
        .coalesce(1)  # one row per qualifying city
        .orderBy(F.desc("avg_views_gained"), "city")
    )
