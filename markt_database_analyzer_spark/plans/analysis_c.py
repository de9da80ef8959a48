"""Analysis C — geographic ranking (analyse.py:356-513).

Average views gained in an ad push's first ~6.7 hours per city, restricted
to cities with ≥ N unique ad pushes. The per-push earliest/latest-snapshot
loop (analyse.py:445-478) becomes conditional ``min_by``/``max_by`` in one
hash aggregation (SURVEY.md §3.3).

Shuffle budget: broadcast join with the deduped dimension, broadcast
left-semi against the qualifying-city list, ONE aggregation over
(ad, push), one tiny aggregation over city.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import blank_to_null, clip_at_zero, davg
from ..operators import (
    dedup_keep_first,
    first_last_by_order,
    restrict_to_groups_with_min_count,
)
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

    # null keys never match in the inner join, which stands in for the
    # reference's dropna on them (analyse.py:386-388)
    merged = clean_monitor(monitor).join(prof_unique, on=KEY, how="inner")  # analyse.py:406-411

    # HAVING on the PRE-join profiles: pushes without monitor rows still
    # count toward the city threshold (deliberate, analyse.py:417-419).
    filtered = restrict_to_groups_with_min_count(
        merged, count_on=prof_unique, key="city", min_count=min_ads_per_city
    )  # analyse.py:422,431

    per_push = first_last_by_order(
        filtered,
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
        .orderBy(F.desc("avg_views_gained"), "city")
    )
