"""Analysis B — time-of-day study (analyse.py:142-351).

B1: count of new ad pushes per 10-minute slot of the day (144 bins,
left-closed, "HH:MM" labels, zero-filled).

B2: average initial views/hour (first ≤119 minutes) per posting hour,
spine 0-23 zero-filled, centered 3-hour rolling mean.

The reference's B2 Python loop over groups (analyse.py:254-281) becomes a
single ``min_by``/``max_by`` hash aggregation (operators.first_last) — one
shuffle, O(1) state per push, linear at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import (
    bin_left_closed_label,
    clip_at_zero,
    coerce_timestamp,
    davg,
    hhmm_label,
    minute_of_day,
    rate_per_hour,
)
from ..operators import centered_rolling_mean, first_last_by_order, join_spine
from .clean import KEY, clean_monitor, unique_pushes


def pushes_per_time_bin(profiles: DataFrame, bin_minutes: int = 10) -> DataFrame:
    """B1: one row per "HH:MM" bin with ``n_pushes`` (zero-filled).

    Unique pushes come from the profiles table alone (analyse.py:191-194);
    duplicate scrapes collapse to their earliest posting time.
    """
    spark = profiles.sparkSession
    counted = (
        unique_pushes(profiles)
        .withColumn("minute_of_day", minute_of_day("posting_ts"))
        .withColumn("time_bin", bin_left_closed_label("minute_of_day", width=bin_minutes))
        .groupBy("time_bin")
        .agg(F.count(F.lit(1)).alias("n_pushes"))
    )
    n_bins = (24 * 60) // bin_minutes
    spine = spark.range(n_bins).select(
        hhmm_label((F.col("id") * bin_minutes).cast("double")).alias("time_bin")
    )
    # the aggregate has at most one row per spine key: broadcast it rather
    # than shuffle the spine; 144 rows sort in one partition
    return (
        join_spine(spine, F.broadcast(counted), on="time_bin", zero_fill=["n_pushes"])
        .coalesce(1)
        .orderBy("time_bin")
    )


def initial_rate_by_posting_hour(
    monitor: DataFrame,
    profiles: DataFrame,
    max_age_minutes: float = 119.0,
    smoothing_window: int = 3,
) -> DataFrame:
    """B2: one row per posting hour 0-23 with ``avg_rate`` (zero-filled) and
    ``smoothed_rate`` (centered 3h rolling mean)."""
    spark = monitor.sparkSession

    mon = clean_monitor(
        monitor.filter(coerce_timestamp("track_time").isNotNull())  # analyse.py:179
    )
    merged = mon.join(unique_pushes(profiles), on=KEY, how="inner")  # analyse.py:235-240
    initial = merged.filter(F.col("ad_age_num") <= max_age_minutes)  # analyse.py:245

    per_push = first_last_by_order(
        initial,
        group_keys=KEY,
        order=F.col("ad_age_num"),
        value=F.col("views_num"),
        tiebreak=F.col("id"),  # stable-sort parity on duplicate ages
        carry={"posting_ts_min": F.col("posting_ts")},
    )
    rates = (
        per_push.filter(
            (F.col("n_rows") >= 2) & F.col("order_varies")  # analyse.py:259
        )
        .withColumn("delta_t", F.col("last_order") - F.col("first_order"))
        .filter(F.col("delta_t") > 0)  # analyse.py:267
        .withColumn(
            "rate",
            clip_at_zero(
                rate_per_hour(F.col("last_value") - F.col("first_value"), F.col("delta_t"))
            ),
        )
        .withColumn("posting_hour", F.hour("posting_ts_min"))  # analyse.py:273
    )

    hourly = rates.groupBy("posting_hour").agg(davg("rate").alias("avg_rate"))
    spine = spark.range(24).select(F.col("id").cast("int").alias("posting_hour"))
    full = join_spine(spine, F.broadcast(hourly), on="posting_hour", zero_fill=["avg_rate"])
    return centered_rolling_mean(
        full, "posting_hour", "avg_rate", smoothing_window, out_col="smoothed_rate"
    ).orderBy("posting_hour")
